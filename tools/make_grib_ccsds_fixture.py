#!/usr/bin/env python3
"""Generate a GRIB2 fixture using data representation template 5.42
(CCSDS lossless compression), plus its flattened parquet mirror,
committed under data/grib/.

Bytes are written from the public WMO FM 92 GRIB edition 2 spec and the
CCSDS 121.0-B-2 recommendation (adaptive entropy / extended-Rice coding,
the algorithm libaec implements) with a from-scratch Python encoder —
deliberately NOT via a GRIB library. NOTE the honesty caveat: unlike the
PNG fixture (CPython zlib vs JDK Inflater — independent codecs), no AEC
implementation exists in this build environment, so encoder (here) and
decoder (CcsdsDecoder.scala) are two from-spec implementations by the
same project. Both sides were written against the spec text
independently of each other's code, and the seeded differential fuzz
(GribCcsdsFuzzSpec) randomizes data and parameters across them.

Encoder structure (mirrors CCSDS 121.0-B-2 §3):
 - samples -> blocks of J, segments of `rsi` blocks;
 - preprocessor: first sample of each segment is a raw reference, the
   rest are unit-delay prediction errors through the standard mapper;
 - per block, the cheapest of: zero-block run (with the
   remainder-of-segment marker), second-extension (pair codewords
   m=(a+b)(a+b+1)/2+b as fundamental sequences), sample-splitting at k
   (FS prefixes then k-bit remainders), or uncompressed;
 - ID width 3/4/5 bits for nbits <= 8/16/32; runs never cross a
   reference; final byte zero-padded.

Coverage: sub-byte (6-bit), 8/12/16-bit sample widths; block sizes
8/16; RSIs 1/2/4/8 (reference every block through multi-segment);
preprocessor on AND off; zero-block runs of 1-4, >=5 and ROS; forced
second-extension and forced-uncompressed messages; a section-6 bitmap;
a constant field (nbits 0, empty section 7).

Run once, commit outputs:
  python3 tools/make_grib_ccsds_fixture.py
"""
import calendar
import struct

import numpy as np

NI, NJ = 9, 5
LAT_FIRST, LON_FIRST = 12000000, 4000000
DINC = 100000
REF = (2023, 11, 2, 6, 0, 0)
REF_EPOCH = calendar.timegm(REF + (0, 0))
E, D = -1, 1

F_MSB, F_PP = 4, 8  # CCSDS options mask bits (libaec flag values)


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
        assert 0 <= v < (1 << nbits) if nbits else v == 0
        if nbits == 0:
            return
        self.acc = (self.acc << nbits) | v
        self.n += nbits
        while self.n >= 8:
            self.n -= 8
            self.out.append((self.acc >> self.n) & 0xFF)

    def fs(self, v: int):
        """Fundamental sequence: v zero bits then a one."""
        while v >= 32:
            self.write(0, 32)
            v -= 32
        self.write(1, v + 1)

    def bytes(self) -> bytes:
        if self.n:
            self.out.append((self.acc << (8 - self.n)) & 0xFF)
            self.acc, self.n = 0, 0
        return bytes(self.out)


def aec_encode(X, nbits, J, rsi, pp, force=None):
    """CCSDS 121.0-B encode of unsigned `nbits`-wide samples X.
    `force` pins the non-zero-block option ('se'/'uncomp'/int k) to
    guarantee fixture coverage; None picks the cheapest legally.
    Returns (bytes, set of option names used)."""
    xmax = (1 << nbits) - 1
    id_len = 3 if nbits <= 8 else (4 if nbits <= 16 else 5)
    uncomp_id = (1 << id_len) - 1
    n_blocks = (len(X) + J - 1) // J
    data = list(X) + [X[-1]] * (n_blocks * J - len(X))
    seg_samples = rsi * J

    # preprocess
    mapped, is_ref = [0] * len(data), [False] * len(data)
    pred = 0
    for i, x in enumerate(data):
        if pp and i % seg_samples == 0:
            mapped[i], is_ref[i] = x, True
        elif pp:
            delta = x - pred
            theta = min(pred, xmax - pred)
            if 0 <= delta <= theta:
                d = 2 * delta
            elif -theta <= delta < 0:
                d = 2 * (-delta) - 1
            else:
                d = theta + abs(delta)
            assert 0 <= d <= xmax, (d, x, pred)
            mapped[i] = d
        else:
            mapped[i] = x
        pred = x

    def block_vals(b):
        off = 1 if (pp and (b * J) % seg_samples == 0) else 0
        return mapped[b * J + off:(b + 1) * J]

    def is_zero(b):
        return all(v == 0 for v in block_vals(b))

    w = BitWriter()
    used = set()
    done, segb = 0, 0
    while done < n_blocks:
        has_ref = pp and segb == 0
        # zero-run detection (within the current segment)
        run = 0
        while (done + run < n_blocks and segb + run < rsi
               and is_zero(done + run)):
            run += 1
        if run >= 1:
            zb_f = min(rsi - segb, 64 - segb % 64)
            in_seg_real = min(rsi - segb, n_blocks - done)
            w.write(0, id_len)
            w.write(0, 1)
            if has_ref:
                w.write(data[done * J], nbits)
            if run == zb_f or (run == in_seg_real and done + run == n_blocks
                               and zb_f >= run):
                w.fs(4)  # ROS: remainder of segment
                used.add("ros")
                consumed = zb_f
            else:
                run = min(run, 63)
                w.fs(run - 1 if run <= 4 else run)
                used.add("zero")
                consumed = run
            done += consumed
            segb += consumed
        else:
            vals = block_vals(done)
            m = len(vals)
            # option costs
            opts = []
            for k in range(0, min(nbits - 1, uncomp_id - 2) + 1):
                if all((v >> k) <= 0xFFFF for v in vals):
                    opts.append((sum(v >> k for v in vals) + m + m * k,
                                 0, k))
            if has_ref:
                pairs = [(0, vals[0])] + [
                    (vals[i], vals[i + 1]) for i in range(1, m - 1, 2)]
            else:
                pairs = [(vals[i], vals[i + 1]) for i in range(0, m, 2)]
            ms = [(a + b) * (a + b + 1) // 2 + b for a, b in pairs]
            if all(v <= 4095 for v in ms):
                opts.append((sum(ms) + len(ms), 1, "se"))
            opts.append((m * nbits, 2, "uncomp"))
            if force == "se":
                choice = "se"
                assert all(v <= 4095 for v in ms), "se forced but codewords too large"
            elif force == "uncomp":
                choice = "uncomp"
            elif isinstance(force, int):
                choice = force
            else:
                choice = min(opts)[2]
            if choice == "se":
                w.write(0, id_len)
                w.write(1, 1)
                if has_ref:
                    w.write(data[done * J], nbits)
                for v in ms:
                    w.fs(v)
                used.add("se")
            elif choice == "uncomp":
                w.write(uncomp_id, id_len)
                if has_ref:
                    w.write(data[done * J], nbits)
                for v in vals:
                    w.write(v, nbits)
                used.add("uncomp")
            else:
                k = choice
                w.write(k + 1, id_len)
                if has_ref:
                    w.write(data[done * J], nbits)
                for v in vals:
                    w.fs(v >> k)
                for v in vals:
                    w.write(v & ((1 << k) - 1), k)
                used.add(f"split{k}")
            done += 1
            segb += 1
        if segb >= rsi:
            segb = 0
    return w.bytes(), used


def aec_decode_py(body, n, nbits, J, rsi, pp):
    """Reference re-decode (for generator self-checks and the fuzz
    expectations): mirrors CcsdsDecoder.scala's state machine."""
    xmax = (1 << nbits) - 1
    id_len = 3 if nbits <= 8 else (4 if nbits <= 16 else 5)
    uncomp_id = (1 << id_len) - 1
    n_blocks = (n + J - 1) // J
    n_segs = (n_blocks + rsi - 1) // rsi
    out = [0] * (n_segs * rsi * J)
    bitpos = [0]

    def bits(k):
        v = 0
        for _ in range(k):
            byte = body[bitpos[0] >> 3]
            v = (v << 1) | ((byte >> (7 - (bitpos[0] & 7))) & 1)
            bitpos[0] += 1
        return v

    def fs():
        z = 0
        while bits(1) == 0:
            z += 1
        return z

    def unmap(d, p):
        theta = min(p, xmax - p)
        if d <= 2 * theta:
            return p + d // 2 if d % 2 == 0 else p - (d + 1) // 2
        return p + (d - theta) if theta == p else p - (d - theta)

    pos, bdone, segb, pred = 0, 0, 0, 0
    while bdone < n_blocks:
        has_ref = pp and segb == 0
        i_d = bits(id_len)
        if i_d == 0 and bits(1) == 0:
            ref_v = bits(nbits) if has_ref else None
            f = fs()
            if f + 1 == 5:
                zb = min(rsi - segb, 64 - segb % 64)
            elif f + 1 > 5:
                zb = f
            else:
                zb = f + 1
            cnt = zb * J
            if has_ref:
                out[pos] = ref_v
                pred = ref_v
                pos += 1
                cnt -= 1
            flat = pred if pp else 0
            for _ in range(cnt):
                out[pos] = flat
                pos += 1
            bdone += zb
            segb += zb
        else:
            ref_v = bits(nbits) if has_ref else None
            m = J - (1 if has_ref else 0)
            vals = []
            if i_d == 0:  # second extension
                bi = 1 if has_ref else 0
                while bi < J:
                    cw = fs()
                    g = 0
                    while (g + 1) * (g + 2) // 2 <= cw:
                        g += 1
                    b2 = cw - g * (g + 1) // 2
                    a2 = g - b2
                    if bi % 2 == 0:
                        vals.append(a2)
                        bi += 1
                        if bi < J:
                            vals.append(b2)
                            bi += 1
                    else:
                        assert a2 == 0
                        vals.append(b2)
                        bi += 1
            elif i_d == uncomp_id:
                vals = [bits(nbits) for _ in range(m)]
            else:
                k = i_d - 1
                hi = [fs() for _ in range(m)]
                vals = [(h << k) | bits(k) for h in hi]
            if has_ref:
                out[pos] = ref_v
                pred = ref_v
                pos += 1
            for v in vals:
                x = unmap(v, pred) if pp else v
                assert 0 <= x <= xmax
                out[pos] = x
                pred = x
                pos += 1
            bdone += 1
            segb += 1
        if segb >= rsi:
            segb = 0
    return out[:n]


def message(member, step_hours, field, nbits, J, rsi, pp, missing_mask=None,
            force=None):
    npts = NI * NJ
    present = np.ones(npts, bool) if missing_mask is None else ~missing_mask.reshape(-1)
    scaled = np.round(field * 10.0 ** D / 2.0 ** E).astype(np.int64)
    vals = scaled.reshape(-1)[present]
    tmin = int(vals.min()) if vals.size else 0
    R = float(np.float32(tmin * 2.0 ** E))
    X = [int(v - tmin) for v in vals]
    flags = F_MSB | (F_PP if pp else 0)
    if nbits:
        assert max(X) < (1 << nbits), (max(X), nbits)
        sec7_body, used = aec_encode(X, nbits, J, rsi, pp, force)
        # generator self-check: the encode round-trips through the
        # reference Python decoder
        assert aec_decode_py(sec7_body, len(X), nbits, J, rsi, pp) == X
    else:
        assert all(x == 0 for x in X)
        sec7_body, used = b"", {"const"}

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
    # DRS template 5.42: R, E, D, nbits, orig type, flags, block, RSI
    sec5 = section(5, struct.pack(">IH", int(present.sum()), 42)
                   + struct.pack(">f", R) + s16(E) + s16(D)
                   + struct.pack(">BB", nbits, 0)
                   + struct.pack(">BBH", flags, J, rsi))
    if missing_mask is None:
        sec6 = section(6, struct.pack(">B", 255))
    else:
        acc, nb, bm = 0, 0, bytearray()
        for p in present.astype(int):
            acc, nb = (acc << 1) | int(p), nb + 1
            if nb == 8:
                bm.append(acc)
                acc, nb = 0, 0
        if nb:
            bm.append((acc << (8 - nb)) & 0xFF)
        sec6 = section(6, struct.pack(">B", 0) + bytes(bm))
    sec7 = section(7, sec7_body)
    body = sec1 + sec3 + sec4 + sec5 + sec6 + sec7
    total = 16 + len(body) + 4
    msg = (b"GRIB" + struct.pack(">HBB", 0, 1, 2)
           + struct.pack(">Q", total) + body + b"7777")
    decoded = (np.float64(np.float32(R))
               + np.array(X, np.float64) * 2.0 ** E) / 10.0 ** D
    return msg, present, decoded, used


def field_for(member, step, kind, scale=1.0):
    m = 0 if member is None else member
    j, i = np.mgrid[0:NJ, 0:NI].astype(np.float64)
    if kind == "constant":
        return np.full((NJ, NI), 12.35)
    if kind == "flat":  # long equal runs -> zero blocks after preprocessing
        f = np.full((NJ, NI), 8.0 + 0.5 * m)
        f[0, :3] = 6.0 + 0.5 * m  # a short non-flat head
        f.reshape(-1)[22] = 9.5 + 0.5 * m  # mid-segment bump: a short
        # (non-remainder-of-segment) zero run must appear before it
        return f
    if kind == "tiny":  # adjacent deltas of +-0.05 -> second extension
        return 5.0 + np.round(np.sin(i + j + m) * 1) * 0.05
    if kind == "noisy":  # full-range noise -> uncompressed
        rng = np.random.default_rng(1234 + m)
        return np.round(rng.uniform(0, scale, (NJ, NI)) * 20) / 20.0
    base = 3.0 + 0.4 * i + 0.15 * j * j + 2.0 * m + 0.9 * (step // 24)
    if kind == "wavy":
        base += 1.5 * np.round(np.sin(i * 1.1 + j) * 10) / 20.0
    return np.round(base * scale * 20) / 20.0


def fuzz_main(out: str, seed: int, n_msgs: int = 6):
    """CC_FUZZ mode (GribCcsdsFuzzSpec drives this): seeded random
    messages with randomized grid dims (up to ~1.4k points -> zero runs
    of 5-63 blocks, the f >= 5 codeword the small committed grid cannot
    reach), sample widths 5-20 bits (+ constants), block sizes 8-64,
    RSIs 1-70 (incl. > 64: the ROS 64-block-boundary rule), preprocessor
    on/off, sparse bitmaps. Prints the same whole-file checksum line the
    complex fuzz uses."""
    global NI, NJ
    rng = np.random.default_rng(seed)
    msgs, checks = [], []
    for mi in range(n_msgs):
        NI = int(rng.integers(1, 49))
        NJ = int(rng.integers(1, 31))
        npts = NI * NJ
        nbits = int(rng.choice([0, 5, 6, 8, 10, 12, 14, 16, 20]))
        J = int(rng.choice([8, 16, 32, 64]))
        rsi = int(rng.integers(1, 71))
        pp = bool(rng.integers(0, 2))
        # integer sample stream S; field = S * 0.05 so scaled == S exactly
        if nbits == 0:
            S = np.full(npts, int(rng.integers(0, 1000)))
        else:
            mode = rng.choice(["noisy", "flat", "walk"])
            top = (1 << nbits) - 1
            if mode == "noisy":
                S = rng.integers(0, top + 1, npts)
            elif mode == "flat":
                S = np.full(npts, int(rng.integers(0, top + 1)))
                for _ in range(int(rng.integers(1, 6))):  # sparse bumps
                    S[int(rng.integers(0, npts))] = int(rng.integers(0, top + 1))
            else:  # bounded random walk: small deltas -> splits/SE
                steps = rng.integers(-2, 3, npts)
                S = np.clip(np.cumsum(steps) + top // 2, 0, top)
        field = (S.astype(np.float64) / 20.0).reshape(NJ, NI)
        mask = None
        if rng.integers(0, 3) == 0 and npts > 4:
            mask = rng.random((NJ, NI)) < 0.1
            if mask.all():
                mask[0, 0] = False
        member = None if mi == 0 else mi
        msg, present, decoded, _ = message(
            member, 24 * (1 + mi % 3), field, nbits, J, rsi, pp, mask)
        msgs.append(msg)
        checks.append(int(np.round(decoded * 20).astype(np.int64).sum()))
    with open(out, "wb") as fh:
        fh.write(b"".join(msgs))
    print(f"expected sum_scaled over file: {sum(checks)}")
    print(f"wrote {len(msgs)} CCSDS-packed messages to {out}")


def big_main(out: str):
    """CC_BIG mode (NOT committed; input for the CCSDS decode-rate pin,
    timed as a sum(value) over
    spark.read.format("graft.sources.GribSource").option("path", <file>).load()
    — BASELINE.md records the rates): an ensemble-day-shaped file — members x steps
    messages on a large grid, bounded-random-walk fields (small deltas,
    the meteorological shape -> mostly k-split blocks with zero runs and
    the occasional uncompressed block). Python-loop encoding is slow;
    sized for minutes of one-time generation, not the full 985 M-cell E1.
      CC_BIG=1 python3 tools/make_grib_ccsds_fixture.py /tmp/big_ccsds.grib2
    Env: CC_NI/CC_NJ/CC_MEMBERS/CC_STEPS/CC_SEED."""
    import os
    global NI, NJ
    NI = int(os.environ.get("CC_NI", "320"))
    NJ = int(os.environ.get("CC_NJ", "180"))
    members = int(os.environ.get("CC_MEMBERS", "51"))
    steps = [24 * (s + 1) for s in range(int(os.environ.get("CC_STEPS", "6")))]
    rng = np.random.default_rng(int(os.environ.get("CC_SEED", "20231102")))
    npts = NI * NJ
    checks, n = [], 0
    with open(out, "wb") as fh:
        for m in range(1, members + 1):
            for st in steps:
                nbits = 12
                top = (1 << nbits) - 1
                walk = rng.integers(-2, 3, npts)
                S = np.clip(np.cumsum(walk) + top // 2, 0, top)
                field = (S.astype(np.float64) / 20.0).reshape(NJ, NI)
                msg, _, decoded, _ = message(
                    m, st, field, nbits, J=32, rsi=int(rng.choice([1, 2, 8])),
                    pp=True)
                fh.write(msg)
                checks.append(int(np.round(decoded * 20).astype(np.int64).sum()))
                n += 1
    print(f"expected sum_scaled over file: {sum(checks)}")
    print(f"wrote {n} CCSDS-packed messages ({n * npts / 1e6:.0f} M cells) to {out}")


if __name__ == "__main__" and __import__("os").environ.get("CC_FUZZ"):
    import sys
    fuzz_main(sys.argv[1], int(sys.argv[2]))
    raise SystemExit(0)

if __name__ == "__main__" and __import__("os").environ.get("CC_BIG"):
    import sys
    big_main(sys.argv[1] if len(sys.argv) > 1 else "/tmp/big_ccsds.grib2")
    raise SystemExit(0)

if __name__ == "__main__":
    import pyarrow as pa
    import pyarrow.parquet as pq

    msgs, rows = [], []
    lats = [(LAT_FIRST - j * DINC) / 1e6 for j in range(NJ)]
    lons = [(LON_FIRST + i * DINC) / 1e6 for i in range(NI)]

    bitmap_mask = np.zeros((NJ, NI), bool)
    bitmap_mask[0, 0] = bitmap_mask[2, 4] = bitmap_mask[4, 8] = bitmap_mask[1, 7] = True

    # (member, step, nbits, J, rsi, pp, mask, force, kind, scale)
    specs = [
        (None, 24, 8, 8, 2, True, None, None, "plain", 1.0),   # splits, 3 segments
        (1, 24, 16, 16, 1, True, None, None, "wavy", 40.0),    # ref every block
        (2, 24, 6, 8, 4, True, None, None, "plain", 0.22),     # sub-byte width
        (3, 24, 8, 8, 8, False, None, None, "plain", 1.0),     # no preprocessor
        (1, 48, 0, 8, 2, True, None, None, "constant", 1.0),   # nbits 0
        (2, 48, 8, 8, 4, True, None, None, "flat", 1.0),       # zero runs + ROS
        (3, 48, 8, 8, 2, True, bitmap_mask, None, "plain", 1.0),  # bitmap
        (None, 48, 12, 16, 2, True, None, "se", "tiny", 1.0),   # second extension
        (2, 72, 10, 8, 2, True, None, "uncomp", "noisy", 50.0),  # uncompressed
    ]
    all_used = set()
    for member, step, nbits, J, rsi, pp, mask, force, kind, scale in specs:
        f = field_for(member, step, kind, scale)
        msg, present, decoded, used = message(
            member, step, f, nbits, J, rsi, pp, mask, force)
        all_used |= used
        msgs.append(msg)
        it = iter(decoded)
        for j in range(NJ):
            for i in range(NI):
                p = present[j * NI + i]
                rows.append((lats[j], lons[i],
                             None if member is None else member, step,
                             REF_EPOCH, next(it) if p else None))
    need = {"zero", "ros", "se", "uncomp", "const"}
    assert need <= all_used and any(u.startswith("split") for u in all_used), \
        f"fixture does not exercise all options: {sorted(all_used)}"

    with open("data/grib/ccsds.grib2", "wb") as fh:
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
    pq.write_table(table, "data/grib/ccsds_expected.parquet")
    print(f"wrote {len(msgs)} GRIB2 messages "
          f"({sum(len(m) for m in msgs)} bytes), options {sorted(all_used)}, "
          f"expected parquet ({table.num_rows} rows)")
