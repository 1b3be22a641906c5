package perfbench

/** Self-test of the failure accounting: an operation that throws counts as
  * attempted and failed and leaves no latency sample. Exits non-zero on a
  * violation. */
object OpsCheck {
  def main(argv: Array[String]): Unit = {
    val ops = new Ops
    val ok = ops.timed("passing op")(42)
    val failed = ops.timed("throwing op") {
      Thread.sleep(20)
      throw new IllegalStateException("thrown on purpose")
    }
    val checks = Seq(
      ok.contains(42) -> "a passing op returns its value",
      failed.isEmpty -> "a throwing op returns no value",
      (ops.attempted == 2) -> s"attempted == 2 (got ${ops.attempted})",
      (ops.failed == 1) -> s"failed == 1 (got ${ops.failed})",
      (ops.latenciesMs.size == 1) -> s"one latency sample (got ${ops.latenciesMs.size})",
      ops.latenciesMs.forall(_ < 20) -> "the failed op's time is in no sample")
    checks.filterNot(_._1).foreach(c => System.err.println(s"OpsCheck failed: ${c._2}"))
    if (checks.exists(!_._1)) sys.exit(1)
    println("OpsCheck ok")
  }
}
