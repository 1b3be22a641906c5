#!/usr/bin/env python3
"""Generate a LARGE record-dimension NetCDF file for scan profiling (not
committed — ~1.1 GB): the scale companion to make_netcdf_record_fixture.py,
same from-spec CDF-1 byte layout, raster-shaped records.

Shape: time=UNLIMITED (365 records) x lat=360 x lon=720, TWO record
variables (discharge f4, temp f8 — slabs interleave per record, so every
executor read takes the strided-gather path) plus a record coordinate var
time(time). 94.6 M cells per variable, recsize ~= 3.1 MB, ~1.1 GB total.

Usage:
  python3 tools/make_netcdf_big_record.py [/tmp/bigrecord.nc]
then time a scan of it, e.g. a sum over a record variable of
  spark.read.format("graft.sources.NetcdfSource").option("path", "/tmp/bigrecord.nc").load()
"""
import struct
import sys

import numpy as np

NC_INT, NC_FLOAT, NC_DOUBLE = 4, 5, 6
NC_DIMENSION, NC_VARIABLE, NC_ATTRIBUTE = 10, 11, 12

NRECS, NLAT, NLON = 365, 360, 720
out_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bigrecord.nc"


def pad4(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 4)


def name(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">i", len(b)) + pad4(b)


def att_float(n: str, v: float) -> bytes:
    return name(n) + struct.pack(">ii", NC_FLOAT, 1) + pad4(struct.pack(">f", v))


def var_header(n, dimids, atts, nc_type, vsize, begin):
    att = (struct.pack(">ii", NC_ATTRIBUTE, len(atts)) + b"".join(atts)
           if atts else struct.pack(">ii", 0, 0))
    return (name(n) + struct.pack(">i", len(dimids))
            + b"".join(struct.pack(">i", d) for d in dimids)
            + att + struct.pack(">iii", nc_type, vsize, begin))


# dims: 0=time (record), 1=lat, 2=lon
vsizes = [8, NLAT * 8, NLON * 8, NLAT * NLON * 4, NLAT * NLON * 8]
specs = [
    ("time", [0], [], NC_DOUBLE),
    ("lat", [1], [], NC_DOUBLE),
    ("lon", [2], [], NC_DOUBLE),
    ("discharge", [0, 1, 2], [att_float("_FillValue", -9999.0)], NC_FLOAT),
    ("temp", [0, 1, 2], [], NC_DOUBLE),
]


def build(begins):
    h = b"CDF\x01" + struct.pack(">i", NRECS)
    h += struct.pack(">ii", NC_DIMENSION, 3)
    h += name("time") + struct.pack(">i", 0)
    h += name("lat") + struct.pack(">i", NLAT)
    h += name("lon") + struct.pack(">i", NLON)
    h += struct.pack(">ii", 0, 0)  # no global atts
    h += struct.pack(">ii", NC_VARIABLE, len(specs))
    for (n, dimids, atts, t), vs, bg in zip(specs, vsizes, begins):
        h += var_header(n, dimids, atts, t, vs, bg)
    return h


hdr_len = len(build([0] * len(specs)))
begins, off = [0] * len(specs), hdr_len
for i in (1, 2):  # lat, lon fixed coordinate vars
    begins[i] = off
    off += vsizes[i]
rec_start = off
begins[0] = rec_start
begins[3] = rec_start + 8
begins[4] = rec_start + 8 + NLAT * NLON * 4
recsize = 8 + NLAT * NLON * 4 + NLAT * NLON * 8

lat = (17.975 - np.arange(NLAT) * 0.05).astype(">f8")
lon = (-17.975 + np.arange(NLON) * 0.05).astype(">f8")

with open(out_path, "wb") as f:
    f.write(build(begins))
    f.write(lat.tobytes() + lon.tobytes())
    idx2 = np.arange(NLAT * NLON, dtype=np.int64)
    for r in range(NRECS):
        gidx = r * NLAT * NLON + idx2
        dis = (gidx * np.float32(0.37) + np.float32(1.5)).astype(np.float32)
        dis[gidx % 13 == 0] = np.float32(-9999.0)
        f.write(struct.pack(">d", 86400.0 * (r + 1)))
        f.write(dis.astype(">f4").tobytes())
        f.write((gidx * 0.125 + 270.0).astype(">f8").tobytes())

print(f"wrote {out_path}: {NRECS} records x {NLAT}x{NLON}, "
      f"recsize {recsize}, total {hdr_len + vsizes[1] + vsizes[2] + NRECS * recsize:,} bytes")
