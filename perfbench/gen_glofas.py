#!/usr/bin/env python3
"""Generate one seeded GloFAS forecast day for the `glofas_day` workload.

Writes, under <outdir>:
  grib/glofas_lt{024..720}.grib2  30 daily leadtimes x 51 ensemble members,
      GRIB2 edition 2 (grid template 3.0, product template 4.1, simple
      packing 5.0 at 16 bits, value = X / 100), on an <ni> x <nj> 0.05-degree
      grid whose first point is (17.975 N, -17.975 E), latitude descending;
  uparea.parquet       per-cell upstream drainage area on the same grid;
  thresholds.parquet   per-cell 2/5/20-year return-period thresholds;
  reference.json       the numpy reference the benchmark checks against:
      detailed and summary row counts and the per-threshold exceedance sums
      after the upstream mask and the relevance (intensity != gray) filter,
      plus a seeded list of serving lookups with their expected row counts.

  python3 perfbench/gen_glofas.py <outdir> <seed> <ni> <nj> [lookups]
"""
import json
import os
import struct
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAT0, LON0, DINC = 17975000, -17975000, 50000  # micro-degrees
MEMBERS = 51
STEPS = [24 * d for d in range(1, 31)]
REF = (2023, 10, 1, 0, 0, 0)
UPSTREAM_MIN = 250000000.0  # FloodConfig().upstreamThreshold
MIN_MEMBERS = 16  # p_above >= 0.30 with 51 members: 16/51 = 0.314, 15/51 = 0.294


def sec(num, body):
    return struct.pack(">IB", 5 + len(body), num) + body


def s32(v):
    return struct.pack(">I", (0x80000000 | -v) if v < 0 else v)


def grib_message(ni, nj, member, step_hours, x):
    npts = ni * nj
    s1 = sec(1, struct.pack(">HHBBBH5BBB", 98, 0, 2, 1, 1, REF[0], *REF[1:], 0, 1))
    s3 = sec(3, struct.pack(">BIBBH", 0, npts, 0, 0, 0)
             + struct.pack(">BBIBIBI", 6, 0, 0, 0, 0, 0, 0)
             + struct.pack(">IIII", ni, nj, 0, 0)
             + s32(LAT0) + s32(LON0) + struct.pack(">B", 0x30)
             + s32(LAT0 - (nj - 1) * DINC) + s32(LON0 + (ni - 1) * DINC)
             + struct.pack(">IIB", DINC, DINC, 0))
    s4 = sec(4, struct.pack(">HHBBBBBHBBi", 0, 1, 0, 197, 2, 255, 255, 0, 0, 1, step_hours)
             + struct.pack(">BBiBBi", 1, 0, 0, 255, 0, 0)
             + struct.pack(">BBB", 3 if member else 0, member, MEMBERS))
    s5 = sec(5, struct.pack(">IHfHHBB", npts, 0, 0.0, 0, 2, 16, 0))
    s6 = sec(6, struct.pack(">B", 255))
    s7 = sec(7, x.astype(">u2").tobytes())
    body = s1 + s3 + s4 + s5 + s6 + s7
    return b"GRIB" + struct.pack(">HBBQ", 0, 1, 2, 16 + len(body) + 4) + body + b"7777"


def main(outdir, seed, ni, nj, n_lookups=24):
    rng = np.random.default_rng(seed)
    ncell = ni * nj
    os.makedirs(os.path.join(outdir, "grib"), exist_ok=True)
    x = rng.integers(0, 1 << 16, (len(STEPS), MEMBERS, ncell), dtype=np.uint16)
    for s, step in enumerate(STEPS):
        with open(os.path.join(outdir, "grib", f"glofas_lt{step:03d}.grib2"), "wb") as fh:
            fh.write(b"".join(grib_message(ni, nj, m, step, x[s, m]) for m in range(MEMBERS)))

    # cell k = j * ni + i (row-major from the first point, latitude descending)
    lat = np.round((LAT0 - np.repeat(np.arange(nj), ni) * DINC) / 1e6, 3)
    lon = np.round((LON0 + np.tile(np.arange(ni), nj) * DINC) / 1e6, 3)
    uparea = rng.integers(0, 500, ncell) * 1e6
    thr2 = rng.integers(300, 651, ncell).astype(np.float64)
    thr5, thr20 = thr2 + 20, thr2 + 50
    pq.write_table(pa.table({"latitude": lat, "longitude": lon, "uparea": uparea}),
                   os.path.join(outdir, "uparea.parquet"))
    pq.write_table(pa.table({"latitude": lat, "longitude": lon, "threshold_2y": thr2,
                             "threshold_5y": thr5, "threshold_20y": thr20}),
                   os.path.join(outdir, "thresholds.parquet"))

    # integer thresholds make dis24 = X / 100 >= T exactly X >= 100 T
    def exceed(thr):
        return (x >= (thr * 100).astype(np.int64)[None, None, :]).sum(axis=1)  # [step, cell]
    e2, e5, e20 = exceed(thr2), exceed(thr5), exceed(thr20)
    keep = (uparea >= UPSTREAM_MIN) & (e2.max(axis=0) >= MIN_MEMBERS)

    lookups = []
    # No source gives the sizes or shares of the GIS clients' lookups, so the
    # mix is an assumption: equal thirds of single cells, 5 x 5 boxes and the
    # whole grid (the flood config's ROI is the whole served domain, for which
    # the generated grid stands in), in seeded order and positions. With 24 lookups the 50th and 75th
    # percentiles fall inside a class (sorted positions 11.5 and 17.25), not
    # on the edge between two.
    kinds = rng.permutation(["cell", "small", "roi"] * (n_lookups // 3)
                            + ["cell"] * (n_lookups % 3))
    for kind in kinds:
        w, h = {"cell": (1, 1), "small": (5, 5), "roi": (ni, nj)}[kind]
        i0, j0 = int(rng.integers(0, ni - w + 1)), int(rng.integers(0, nj - h + 1))
        inside = np.zeros((nj, ni), bool)
        inside[j0:j0 + h, i0:i0 + w] = True
        half = DINC / 2e6
        lookups.append({
            "lat_min": round((LAT0 - (j0 + h - 1) * DINC) / 1e6 - half, 4),
            "lat_max": round((LAT0 - j0 * DINC) / 1e6 + half, 4),
            "lon_min": round((LON0 + i0 * DINC) / 1e6 - half, 4),
            "lon_max": round((LON0 + (i0 + w - 1) * DINC) / 1e6 + half, 4),
            "rows": int((inside.ravel() & keep).sum()) * len(STEPS)})
    ref = {
        "cells": int(len(STEPS) * MEMBERS * ncell),
        "summary_rows": int(keep.sum()),
        "detailed_rows": int(keep.sum()) * len(STEPS),
        "exceed_2y": int(e2[:, keep].sum()),
        "exceed_5y": int(e5[:, keep].sum()),
        "exceed_20y": int(e20[:, keep].sum()),
        "lookups": lookups,
    }
    with open(os.path.join(outdir, "reference.json"), "w") as fh:
        json.dump(ref, fh)


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]),
         *(int(v) for v in sys.argv[5:6]))
