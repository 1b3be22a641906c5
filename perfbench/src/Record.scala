package perfbench

/** Records expected values the benchmark checks every run against.
  *
  *   Record registry <tables dir> <verify dump dir> <out tsv> <cores> <work dir>
  *     for every registry query, the row count and digest of its result
  *     dumped by `graft.Verify` (a dump that has passed the DuckDB oracle
  *     compare), cross-checked against the live result in this session;
  *   Record curate <drops dir> <out tsv> <cores> <work dir>
  *     batch `Curation.curateV3`'s verdict for every document of the drops.
  */
object Record {
  def main(argv: Array[String]): Unit = {
    val (inputs, cores, work) = argv(0) match {
      case "registry" => (argv(1), argv(4), argv(5))
      case "curate" => (argv(1), argv(3), argv(4))
    }
    val spark = Main.session(Args(argv(0), 0L, 0, trace = false, inputs, work, Seq(0.0),
      cores.toInt, ""))
    val (out, lines) = argv(0) match {
      case "registry" =>
        argv(3) -> graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (q, fn) =>
          val dumped = Registry.digest(spark.read.parquet(s"${argv(2)}/$q"))
          val live = Registry.digest(fn(spark, inputs))
          require(dumped == live, s"$q: dumped $dumped but live $live")
          s"$q\t${live._1}\t${live._2}"
        }
      case "curate" =>
        val corpus = spark.read.parquet(inputs)
        argv(2) -> Curate.batchVerdicts(corpus, Curate.benchmark(corpus)).toSeq.sorted
          .map { case (id, reason) => s"$id\t$reason" }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), lines.mkString("", "\n", "\n"))
    spark.stop()
  }
}
