#!/usr/bin/env python3
"""Generate a GRIB2 fixture using data representation templates 5.2
(complex packing) and 5.3 (complex packing with spatial differencing),
plus its flattened parquet mirror, committed under data/grib/.

Bytes are written directly from the public WMO FM 92 GRIB edition 2 spec
with struct.pack — deliberately NOT via a GRIB library and NOT via the
Scala reader under test, so the fixture is an independent implementation
of the format (same discipline as make_grib_fixture.py, which covers
template 5.0 simple packing).

Coverage: plain 5.2 grouping; 5.2 + section-6 bitmap; 5.3 first-order
and second-order differencing (2-, 3- and 4-octet descriptors, negative
overall minima); a constant field (all group widths 0, nbits 0); a
bitmap + differencing combination; group count that leaves a short last
group (the true-length-of-last-group override, octets 43-46).

Decode math: Y = (R + X·2^E) / 10^D with X reconstructed from group
references + residuals (+ the differencing recurrence for 5.3), all in
float64 — bit-identical between numpy here and the JVM reader (R is an
exact float32 widening, 2^E and 10^D exact for the chosen E/D).

Run once, commit outputs:
  python3 tools/make_grib_complex_fixture.py

Big mode (NOT committed; input for the complex-packing decode-rate pin,
timed as a sum(value) over
spark.read.format("graft.sources.GribSource").option("path", <file>).load()
— BASELINE.md records the rates): an E1-shaped ensemble day — 51 members x 6 steps on a
920x700 grid (~197 M cells) — complex-packed with the order cycling
0/1/2 across members. Uses a legal uniform-group-width encoding
(widthBits=0) so numpy can vectorize the bit packing:
  GC_BIG=1 python3 tools/make_grib_complex_fixture.py /tmp/big_complex.grib2
"""
import calendar
import os
import struct
import sys

import numpy as np

NI, NJ = 9, 5  # lons, lats
LAT_FIRST, LON_FIRST = 12000000, 4000000  # micro-degrees, lat descending
DINC = 100000  # 0.1 degrees
REF = (2023, 11, 2, 6, 0, 0)
REF_EPOCH = calendar.timegm(REF + (0, 0))
E, D = -1, 1  # binary / decimal scale: values on a 0.05 grid
GROUP_LEN = 7  # 45 points -> 6 groups of 7 + last group of 3


def s16(v: int) -> bytes:
    return struct.pack(">H", (0x8000 | -v) if v < 0 else v)


def s32(v: int) -> bytes:
    return struct.pack(">I", (0x80000000 | -v) if v < 0 else v)


def section(num: int, body: bytes) -> bytes:
    return struct.pack(">IB", 5 + len(body), num) + body


class BitWriter:
    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def write(self, v: int, nbits: int):
        assert v >= 0 and v < (1 << nbits) if nbits else v == 0
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | v
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)

    def align(self):
        if self.n:
            self.out.append((self.acc << (8 - self.n)) & 0xFF)
            self.acc, self.n = 0, 0

    def bytes(self) -> bytes:
        self.align()
        return bytes(self.out)


def sign_mag(v: int, octets: int) -> int:
    """GRIB2 sign-and-magnitude with the MSB of the field as sign."""
    sign = 1 << (octets * 8 - 1)
    assert abs(v) < sign, f"{v} does not fit {octets} sign-magnitude octets"
    return (sign | -v) if v < 0 else v


def bitlen(x: int) -> int:
    return int(x).bit_length()


def encode_complex(S, order: int, extra_oct: int):
    """Pack nonnegative scaled values S (R already subtracted) per DRS
    template 5.2 (order=0) / 5.3 (order 1 or 2). Returns (drs_tail,
    sec7_body): drs_tail is octets 20..47[..49] of section 5."""
    n = len(S)
    assert n > order
    if order == 0:
        seq, ivals = list(S), []
    else:
        d = list(S)
        for _ in range(order):
            d = [d[i] - d[i - 1] for i in range(1, len(d))]
        ivals = list(S[:order])
        seq = [0] * order + d
    if order:
        dmin = min(seq[order:])
        h = [0] * order + [v - dmin for v in seq[order:]]
    else:
        dmin = 0
        h = seq
    assert all(v >= 0 for v in h)

    groups = [h[i:i + GROUP_LEN] for i in range(0, n, GROUP_LEN)]
    ng = len(groups)
    refs = [min(g) for g in groups]
    residuals = [[v - r for v in g] for g, r in zip(groups, refs)]
    widths = [bitlen(max(res)) if res else 0 for res in residuals]
    nbits = bitlen(max(refs))
    ref_w = min(widths)
    wbits = bitlen(max(w - ref_w for w in widths))
    ref_len, len_inc, lbits = GROUP_LEN, 1, 6
    last_len = len(groups[-1])

    w = BitWriter()
    for iv in ivals:
        w.write(sign_mag(iv, extra_oct), extra_oct * 8)
    if order:
        w.write(sign_mag(dmin, extra_oct), extra_oct * 8)
    for r in refs:
        w.write(r, nbits)
    w.align()
    for wd in widths:
        w.write(wd - ref_w, wbits)
    w.align()
    for _ in range(ng):  # stored scaled lengths: every group "ref_len";
        w.write(0, lbits)  # the decoder overrides the last from octets 43-46
    w.align()
    for res, wd in zip(residuals, widths):
        for v in res:
            w.write(v, wd)
    sec7 = w.bytes()

    drs_tail = (struct.pack(">BBB", nbits, 0, 1)  # nbits, orig type, split=general
                + struct.pack(">B", 0)  # missing value management: none
                + struct.pack(">II", 0, 0)  # primary/secondary substitutes
                + struct.pack(">I", ng)
                + struct.pack(">BB", ref_w, wbits)
                + struct.pack(">I", ref_len) + struct.pack(">B", len_inc)
                + struct.pack(">I", last_len) + struct.pack(">B", lbits))
    if order:
        drs_tail += struct.pack(">BB", order, extra_oct)
    return drs_tail, sec7


def message(member, step_hours, field, order, extra_oct, missing_mask=None):
    npts = NI * NJ
    present = np.ones(npts, bool) if missing_mask is None else ~missing_mask.reshape(-1)
    scaled = np.round(field * 10.0 ** D / 2.0 ** E).astype(np.int64)
    vals = scaled.reshape(-1)[present]
    tmin = int(vals.min()) if vals.size else 0
    R = float(np.float32(tmin * 2.0 ** E))
    S = [int(v - tmin) for v in vals]

    sec1 = section(1, struct.pack(">HHBBB", 98, 0, 2, 1, 1)
                   + struct.pack(">H", REF[0]) + struct.pack(">BBBBB", *REF[1:])
                   + struct.pack(">BB", 0, 1))
    sec3 = section(3,
        struct.pack(">B", 0)
        + struct.pack(">I", npts)
        + struct.pack(">BB", 0, 0)
        + struct.pack(">H", 0)
        + struct.pack(">BBIBIBI", 6, 0, 0, 0, 0, 0, 0)
        + struct.pack(">II", NI, NJ)
        + struct.pack(">II", 0, 0)
        + s32(LAT_FIRST) + s32(LON_FIRST)
        + struct.pack(">B", 0x30)
        + s32(LAT_FIRST - (NJ - 1) * DINC) + s32(LON_FIRST + (NI - 1) * DINC)
        + struct.pack(">II", DINC, DINC)
        + struct.pack(">B", 0))
    body4 = (struct.pack(">H", 0)
             + struct.pack(">H", 1 if member is not None else 0)
             + struct.pack(">BB", 0, 197)
             + struct.pack(">B", 2)
             + struct.pack(">BB", 255, 255)
             + struct.pack(">HB", 0, 0)
             + struct.pack(">B", 1)
             + struct.pack(">i", step_hours)
             + struct.pack(">BBi", 1, 0, 0)
             + struct.pack(">BBi", 255, 0, 0))
    if member is not None:
        body4 += struct.pack(">BBB", 3 if member > 0 else 0, member, 4)
    sec4 = section(4, body4)

    drs_tail, sec7_body = encode_complex(S, order, extra_oct)
    template = 3 if order else 2
    sec5 = section(5, struct.pack(">IH", int(present.sum()), template)
                   + struct.pack(">f", R) + s16(E) + s16(D) + drs_tail)
    if missing_mask is None:
        sec6 = section(6, struct.pack(">B", 255))
    else:
        w = BitWriter()
        for p in present.astype(int):
            w.write(int(p), 1)
        sec6 = section(6, struct.pack(">B", 0) + w.bytes())
    sec7 = section(7, sec7_body)
    body = sec1 + sec3 + sec4 + sec5 + sec6 + sec7
    total = 16 + len(body) + 4
    msg = (b"GRIB" + struct.pack(">HBB", 0, 1, 2)
           + struct.pack(">Q", total) + body + b"7777")

    # expected decoded values, re-derived through the packing round trip
    decoded = (np.float64(np.float32(R)) + np.array(S, np.float64) * 2.0 ** E) / 10.0 ** D
    return msg, present, decoded


def field_for(member, step, kind):
    m = 0 if member is None else member
    j, i = np.mgrid[0:NJ, 0:NI].astype(np.float64)
    if kind == "constant":
        return np.full((NJ, NI), 12.35)
    base = 3.0 + 0.4 * i + 0.15 * j * j + 2.0 * m + 0.9 * (step // 24)
    if kind == "wavy":  # curvature so 2nd-order differences vary in sign
        base += 1.5 * np.round(np.sin(i * 1.1 + j) * 10) / 20.0
    return np.round(base * 20) / 20.0  # snap to the 0.05 grid


def pack_bits_np(vals: np.ndarray, w: int) -> bytes:
    """Vectorized MSB-first packing at a uniform width (final byte
    zero-padded, as the spec's byte-boundary rule requires)."""
    if w == 0 or vals.size == 0:
        return b""
    bits = np.unpackbits(
        vals.astype(">u4").view(np.uint8).reshape(-1, 4), axis=1)[:, 32 - w:]
    return np.packbits(bits.reshape(-1)).tobytes()


def big_message(member, step_hours, ni, nj, order, rng):
    """One complex-packed ensemble field at scan-profile scale. Legal
    encoding choices for vectorization: uniform group width (widthBits=0)
    and fixed group length 64 (short last group)."""
    npts = ni * nj
    j, i = np.mgrid[0:nj, 0:ni]
    field = (5.0 + 0.001 * i + 0.002 * j + 0.05 * np.round(
        rng.normal(40.0 * (member or 0) % 7, 8.0, (nj, ni))))
    scaled = np.round(field * 10.0 ** D / 2.0 ** E).astype(np.int64).reshape(-1)
    tmin = int(scaled.min())
    R = float(np.float32(tmin * 2.0 ** E))
    S = scaled - tmin

    extra_oct = 3
    if order == 0:
        seq, ivals = S, []
    else:
        ivals = [int(v) for v in S[:order]]
        seq = np.concatenate([np.zeros(order, np.int64), np.diff(S, n=order)])
    if order:
        dmin = int(seq[order:].min())
        h = seq.copy()
        h[order:] -= dmin
    else:
        dmin, h = 0, seq

    glen = 64
    ng = (npts + glen - 1) // glen
    pad = ng * glen - npts
    hp = np.concatenate([h, np.zeros(pad, np.int64)]).reshape(ng, glen)
    if pad:  # padding must not distort the last group's reference
        hp[-1, glen - pad:] = hp[-1, 0]
    refs = hp.min(axis=1)
    res = (hp - refs[:, None]).reshape(-1)
    width = int(res.max()).bit_length()
    nbits = int(refs.max()).bit_length()
    if pad:  # drop the padded tail from the packed residual stream
        res = res[:npts]

    w = BitWriter()
    for iv in ivals:
        w.write(sign_mag(iv, extra_oct), extra_oct * 8)
    if order:
        w.write(sign_mag(dmin, extra_oct), extra_oct * 8)
    sec7_body = (w.bytes() + pack_bits_np(refs, nbits)
                 + b""  # group widths: widthBits=0 -> zero-length stream
                 + pack_bits_np(np.zeros(ng, np.int64), 6)
                 + pack_bits_np(res, width))
    drs_tail = (struct.pack(">BBB", nbits, 0, 1)
                + struct.pack(">B", 0) + struct.pack(">II", 0, 0)
                + struct.pack(">I", ng)
                + struct.pack(">BB", width, 0)  # uniform width, widthBits=0
                + struct.pack(">I", glen) + struct.pack(">B", 1)
                + struct.pack(">I", npts - (ng - 1) * glen)
                + struct.pack(">B", 6))
    if order:
        drs_tail += struct.pack(">BB", order, extra_oct)

    sec1 = section(1, struct.pack(">HHBBB", 98, 0, 2, 1, 1)
                   + struct.pack(">H", REF[0]) + struct.pack(">BBBBB", *REF[1:])
                   + struct.pack(">BB", 0, 1))
    sec3 = section(3,
        struct.pack(">B", 0) + struct.pack(">I", npts)
        + struct.pack(">BB", 0, 0) + struct.pack(">H", 0)
        + struct.pack(">BBIBIBI", 6, 0, 0, 0, 0, 0, 0)
        + struct.pack(">II", ni, nj) + struct.pack(">II", 0, 0)
        + s32(LAT_FIRST) + s32(LON_FIRST)
        + struct.pack(">B", 0x30)
        + s32(LAT_FIRST - (nj - 1) * 50000) + s32(LON_FIRST + (ni - 1) * 50000)
        + struct.pack(">II", 50000, 50000)
        + struct.pack(">B", 0))
    body4 = (struct.pack(">H", 0)
             + struct.pack(">H", 1 if member is not None else 0)
             + struct.pack(">BB", 0, 197) + struct.pack(">B", 2)
             + struct.pack(">BB", 255, 255) + struct.pack(">HB", 0, 0)
             + struct.pack(">B", 1) + struct.pack(">i", step_hours)
             + struct.pack(">BBi", 1, 0, 0) + struct.pack(">BBi", 255, 0, 0))
    if member is not None:
        body4 += struct.pack(">BBB", 3 if member > 0 else 0, member, 4)
    sec4 = section(4, body4)
    sec5 = section(5, struct.pack(">IH", npts, 3 if order else 2)
                   + struct.pack(">f", R) + s16(E) + s16(D) + drs_tail)
    sec6 = section(6, struct.pack(">B", 255))
    sec7 = section(7, sec7_body)
    body = sec1 + sec3 + sec4 + sec5 + sec6 + sec7
    total = 16 + len(body) + 4
    msg = (b"GRIB" + struct.pack(">HBB", 0, 1, 2)
           + struct.pack(">Q", total) + body + b"7777")
    # expected per-message checksum: sum of value*20 (exact integers for
    # E=-1, D=1), re-derived from the scaled representation
    decoded = (np.float64(np.float32(R)) + S.astype(np.float64) * 2.0 ** E) / 10.0 ** D
    return msg, int(np.round(decoded * 20).astype(np.int64).sum())


if os.environ.get("GC_BIG"):
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/big_complex.grib2"
    ni = int(os.environ.get("GC_NI", "920"))
    nj = int(os.environ.get("GC_NJ", "700"))
    members = int(os.environ.get("GC_MEMBERS", "51"))
    steps = [24 * (s + 1) for s in range(int(os.environ.get("GC_STEPS", "6")))]
    rng = np.random.default_rng(int(os.environ.get("GC_SEED", "20231102")))
    n = 0
    checks = []
    with open(out, "wb") as fh:
        for m in range(1, members + 1):
            for st in steps:
                msg, chk = big_message(m, st, ni, nj, order=m % 3, rng=rng)
                fh.write(msg)
                checks.append((m, st, chk))
                n += 1
    # decode cross-check: sum over ALL messages of value*20 (the same
    # exact-integer checksum q_grib_bigday uses); compare to
    #   spark sum(round(value * 20)) over the whole file
    print(f"expected sum_scaled over file: {sum(c[2] for c in checks)}")
    print(f"wrote {n} complex-packed messages ({ni}x{nj} grid, "
          f"{n * ni * nj / 1e6:.0f} M cells) to {out}")
    sys.exit(0)

import pyarrow as pa
import pyarrow.parquet as pq

msgs, rows = [], []
lats = [(LAT_FIRST - j * DINC) / 1e6 for j in range(NJ)]
lons = [(LON_FIRST + i * DINC) / 1e6 for i in range(NI)]
# (member, step, order, extra_octets, bitmap, field kind)
specs = [
    (None, 24, 0, 0, False, "plain"),    # plain 5.2
    (1,    24, 0, 0, True,  "plain"),    # 5.2 + bitmap
    (2,    24, 1, 2, False, "wavy"),     # 5.3 first order
    (3,    48, 2, 3, False, "wavy"),     # 5.3 second order
    (1,    48, 0, 0, False, "constant"), # constant field: widths 0, nbits 0
    (2,    48, 1, 2, True,  "wavy"),     # differencing + bitmap
    (3,    24, 2, 4, False, "plain"),    # 4-octet descriptors
]
for member, step, order, extra, with_bitmap, kind in specs:
    f = field_for(member, step, kind)
    mask = None
    if with_bitmap:
        mask = np.zeros((NJ, NI), bool)
        mask[0, 0] = mask[2, 4] = mask[4, 8] = mask[1, 7] = True
    msg, present, decoded = message(member, step, f, order, extra, mask)
    msgs.append(msg)
    it = iter(decoded)
    for j in range(NJ):
        for i in range(NI):
            p = present[j * NI + i]
            rows.append((lats[j], lons[i],
                         None if member is None else member, step,
                         REF_EPOCH, next(it) if p else None))

with open("data/grib/complex.grib2", "wb") as fh:
    fh.write(b"".join(msgs))

cols = list(zip(*rows))
table = pa.table({
    "latitude": pa.array(cols[0], pa.float64()),
    "longitude": pa.array(cols[1], pa.float64()),
    "number": pa.array(cols[2], pa.int32()),
    "step_hours": pa.array(cols[3], pa.int32()),
    "ref_time": pa.array(cols[4], pa.int64()),
    "value": pa.array(cols[5], pa.float64()),
})
pq.write_table(table, "data/grib/complex_expected.parquet")
print(f"wrote {len(msgs)} GRIB2 messages ({sum(len(m) for m in msgs)} bytes), "
      f"expected parquet ({table.num_rows} rows)")
