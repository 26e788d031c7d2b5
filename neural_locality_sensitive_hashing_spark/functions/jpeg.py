"""Pure-python/numpy baseline JPEG (ITU-T T.81) codec.

Standalone: no engine module imports it, only ``tests/test_jpeg.py``. It
is the last piece of the media decode tier, which is outside the dedup
path, and is deleted next.

Scope (the baseline process, which is what MJPEG uses):

- decode: SOF0/SOF1 Huffman sequential DCT, 8-bit precision, 1 or 3
  components, any 1-2 sampling factors (4:4:4, 4:2:2, 4:2:0), restart
  markers (DRI/RSTn), 8- or 16-bit quantization tables, single
  interleaved scan. Progressive (SOF2), arithmetic coding, 12-bit, and
  hierarchical modes return None, never a silent wrong decode.
- encode: baseline JFIF writer (the deterministic test/datagen inverse):
  IJG-style quality-scaled Annex K quantization tables, per-image
  OPTIMAL canonical Huffman tables derived with the spec's own
  frequency-counting flow (Annex K.2 / jpeg_gen_optimal_table shape —
  no 324-entry table transcription to get wrong), 4:4:4 / 4:2:2 /
  4:2:0, optional restart intervals.

Everything here is from the public JPEG spec; decode totality (any
byte string → ndarray or None, never an exception) is fuzz-tested in
tests/test_jpeg.py. Reference parity note: the reference engine has no
media codecs at all.
"""

from __future__ import annotations

import struct

import numpy as np

# natural (row-major) index of the i-th coefficient in zigzag order
ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# Decoder allocation cap: max total 8x8 blocks (all components) a scan may
# declare before _decode_scan refuses — see the in-function comment.
_MAX_BLOCKS = 1 << 18

# Annex K.1/K.2 base quantization tables (natural order)
_Q_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.float64,
)
_Q_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.float64,
)

# orthonormal 8-point DCT-II matrix: forward X = C @ x @ C.T, inverse C.T @ X @ C
_C = np.array(
    [
        [
            (np.sqrt(1 / 8) if k == 0 else 0.5) * np.cos((2 * n + 1) * k * np.pi / 16)
            for n in range(8)
        ]
        for k in range(8)
    ]
)


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    q = min(max(int(quality), 1), 100)
    scale = 5000 / q if q < 50 else 200 - 2 * q
    out = []
    for base in (_Q_LUMA, _Q_CHROMA):
        t = np.floor((base * scale + 50) / 100)
        out.append(np.clip(t, 1, 255))
    return out[0], out[1]


# ---------------------------------------------------------------------------
# optimal canonical Huffman tables (the spec's Annex K.2 flow)
# ---------------------------------------------------------------------------


def _optimal_huffman(freq: np.ndarray) -> tuple[list[int], list[int]]:
    """(BITS[1..16], HUFFVAL) for a 256-symbol frequency vector.

    The T.81 Annex K.2 procedure: merge-count code sizes with the
    reserved 257th symbol (guarantees no all-ones code), fold lengths
    past 16 down pairwise, then drop the reserved symbol from the
    longest run. Deterministic for a given frequency vector."""
    f = np.zeros(257, dtype=np.int64)
    f[:256] = freq
    f[256] = 1  # reserved: keeps the all-ones codeword unassigned
    codesize = np.zeros(257, dtype=np.int64)
    others = np.full(257, -1, dtype=np.int64)
    while True:
        nz = np.nonzero(f)[0]
        if len(nz) < 2:
            break
        # two smallest frequencies; ties broken toward the LARGER symbol
        # value (the spec's search order), which the lexsort key encodes
        order = nz[np.lexsort((-nz, f[nz]))]
        c1, c2 = int(order[0]), int(order[1])
        f[c1] += f[c2]
        f[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = int(others[c1])
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = int(others[c2])
            codesize[c2] += 1
    # The bits histogram is sized to the TRUE maximum depth (not clamped
    # at the spec's nominal 32): clamping a deeper-than-32 symbol into
    # the 32 bucket would hand the fold a Kraft-overfull multiset and
    # emit an over-subscribed DHT. Depth > 32 needs Fibonacci-skewed
    # frequencies summing past ~3.5M blocks — unreachable for sane
    # images, but the fold is depth-generic so handle it exactly.
    max_size = max(32, int(codesize.max()))
    bits = np.zeros(max_size + 1, dtype=np.int64)
    for size in codesize[codesize > 0]:
        bits[int(size)] += 1
    i = max_size
    while i > 16:  # fold over-long codes down to <= 16 bits
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    i = 16
    while i > 0 and bits[i] == 0:
        i -= 1
    if i > 0:
        bits[i] -= 1  # retire the reserved symbol's slot
    # HUFFVAL: symbols ordered by (code size, symbol value), reserved excluded
    sizes = codesize[:256]
    huffval = [
        int(s)
        for size in range(1, max_size + 1)
        for s in np.nonzero(sizes == size)[0]
    ]
    return [int(b) for b in bits[1:17]], huffval


def _codes_from_table(bits: list[int], huffval: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) for canonical (BITS, HUFFVAL)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _decode_table(bits: list[int], huffval: list[int]) -> dict[tuple[int, int], int]:
    """(length, code) -> symbol for canonical (BITS, HUFFVAL)."""
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return out


# ---------------------------------------------------------------------------
# bit I/O (entropy-coded segment: 0xFF is byte-stuffed with 0x00)
# ---------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, code: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            b = (self.acc >> (self.n - 8)) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
            self.n -= 8
        self.acc &= (1 << self.n) - 1

    def pad_to_byte(self) -> None:
        if self.n:
            self.write((1 << (8 - self.n)) - 1, 8 - self.n)


class _BitReader:
    def __init__(self, buf: bytes, pos: int) -> None:
        self.buf = buf
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.buf[self.pos]  # IndexError past end -> caller's None path
        if b == 0xFF:
            nxt = self.buf[self.pos + 1] if self.pos + 1 < len(self.buf) else 0xD9
            if nxt != 0x00:
                raise ValueError("marker inside entropy-coded segment")
            self.pos += 2
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.n += 8

    def bits(self, k: int) -> int:
        if k == 0:
            return 0
        while self.n < k:
            self._fill()
        self.n -= k
        out = self.acc >> self.n
        # Truncate the accumulator to the unconsumed bits (mirrors
        # _BitWriter): without this, acc grows with every byte consumed
        # and each shift is O(stream-length), making decode quadratic.
        self.acc &= (1 << self.n) - 1
        return out

    def restart(self) -> None:
        """Byte-align and consume an RSTn marker."""
        self.acc = 0
        self.n = 0
        if not (
            self.pos + 1 < len(self.buf)
            and self.buf[self.pos] == 0xFF
            and 0xD0 <= self.buf[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected restart marker")
        self.pos += 2


def _huff_decode(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.bits(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code")


def _extend(v: int, s: int) -> int:
    return v - ((1 << s) - 1) if v < (1 << (s - 1)) else v


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def parse_jpeg_header(payload: bytes) -> dict | None:
    """Frame header fields of a JPEG payload (SOI + any SOFn), or None."""
    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker == 0xD9:
            return None
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            body = payload[pos + 4 : pos + 2 + seglen]
            if len(body) < 6:
                return None
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            return {
                "width": w,
                "height": h,
                "components": ncomp,
                "bit_depth": precision,
                "progressive": marker == 0xC2,
                "baseline": marker in (0xC0, 0xC1),
            }
        pos += 2 + seglen
    return None


def decode_jpeg_pixels(payload: bytes) -> np.ndarray | None:
    """(h, w, {1,3}) uint8 pixels of a baseline JPEG — a REAL decode
    (Huffman entropy decode, dequantize, IDCT, chroma upsample, YCbCr to
    RGB), numpy only. None for anything outside the supported baseline
    subset; never raises on arbitrary bytes."""
    try:
        return _decode(payload)
    except Exception:  # noqa: BLE001 — totality: any malformed input -> None
        return None


def _decode(payload: bytes) -> np.ndarray | None:
    if len(payload) < 4 or payload[0:2] != b"\xff\xd8":
        return None
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame: dict | None = None
    restart_interval = 0
    pos = 2
    while pos + 2 <= len(payload):
        if payload[pos] != 0xFF:
            return None
        marker = payload[pos + 1]
        if marker == 0xD9:  # EOI before any scan
            return None
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2
            continue
        (seglen,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
        body = payload[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 15
                off += 1
                if pq == 0:
                    tbl = np.frombuffer(body, np.uint8, 64, off).astype(np.float64)
                    off += 64
                else:
                    tbl = np.frombuffer(body, ">u2", 64, off).astype(np.float64)
                    off += 128
                qt[tq] = tbl  # zigzag order as stored
        elif marker == 0xC4:  # DHT
            off = 0
            while off + 17 <= len(body):
                tc, th = body[off] >> 4, body[off] & 15
                bits = list(body[off + 1 : off + 17])
                nval = sum(bits)
                vals = list(body[off + 17 : off + 17 + nval])
                if len(vals) != nval:
                    return None
                huff[(tc, th)] = _decode_table(bits, vals)
                off += 17 + nval
        elif marker in (0xC0, 0xC1):  # SOF0/SOF1 baseline-compatible
            precision, h, w, ncomp = struct.unpack(">BHHB", body[:6])
            if precision != 8 or ncomp not in (1, 3) or h == 0 or w == 0:
                return None
            comps = []
            for i in range(ncomp):
                cid, hv, tq = struct.unpack(">BBB", body[6 + 3 * i : 9 + 3 * i])
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 15, "tq": tq})
            frame = {"h": h, "w": w, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None  # progressive / arithmetic / hierarchical: unsupported
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                return None
            ns = body[0]
            scan = []
            for i in range(ns):
                cs, tdta = body[1 + 2 * i], body[2 + 2 * i]
                scan.append((cs, tdta >> 4, tdta & 15))
            return _decode_scan(
                payload, pos + 2 + seglen, frame, scan, qt, huff, restart_interval
            )
        pos += 2 + seglen
    return None


def _decode_scan(
    payload: bytes,
    data_pos: int,
    frame: dict,
    scan: list[tuple[int, int, int]],
    qt: dict[int, np.ndarray],
    huff: dict[tuple[int, int], dict[tuple[int, int], int]],
    restart_interval: int,
) -> np.ndarray | None:
    comps = frame["comps"]
    if len(scan) != len(comps):  # multi-scan non-interleaved: unsupported
        return None
    by_id = {c["id"]: c for c in comps}
    order = []
    for cs, td, ta in scan:
        c = by_id.get(cs)
        if c is None or (0, td) not in huff or (1, ta) not in huff:
            return None
        order.append((c, huff[(0, td)], huff[(1, ta)]))
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    if hmax not in (1, 2, 4) or vmax not in (1, 2, 4):
        return None
    h, w = frame["h"], frame["w"]
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # Allocation cap BEFORE sizing anything from the SOF header: h/w are
    # attacker-controlled bytes, and a 65535x65535 frame over a ~100-byte
    # scan would commit ~34 GB of coefficient arrays (and the decode loop
    # touches pages across all of it) — an executor OOM-kill fires before
    # MemoryError can be caught, so "total, never raises" needs the same
    # pre-allocation bound discipline as warc.py's _MAX_HEADER/_MAX_RECORD.
    # _MAX_BLOCKS = 2^18 8x8 blocks across all components ≈ 128 MB of
    # float64 coefs ≈ a 4096x4096 4:4:4 frame: far above any thumbnail /
    # video frame this tier decodes, far below the per-task memory budget.
    total_blocks = mcus_x * mcus_y * sum(c["h"] * c["v"] for c in comps)
    if total_blocks > _MAX_BLOCKS:
        return None
    coefs = {
        c["id"]: np.zeros((mcus_y * c["v"] * mcus_x * c["h"], 64), dtype=np.float64)
        for c in comps
    }
    reader = _BitReader(payload, data_pos)
    preds = {c["id"]: 0 for c in comps}
    n_mcus = mcus_x * mcus_y
    for m in range(n_mcus):
        if restart_interval and m and m % restart_interval == 0:
            reader.restart()
            preds = {c["id"]: 0 for c in comps}
        my, mx = divmod(m, mcus_x)
        for c, dct, act in order:
            cw = mcus_x * c["h"]  # blocks per row for this component
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    block_idx = (my * c["v"] + by) * cw + (mx * c["h"] + bx)
                    s = _huff_decode(reader, dct)
                    if s > 11:
                        return None
                    diff = _extend(reader.bits(s), s) if s else 0
                    preds[c["id"]] += diff
                    row = coefs[c["id"]][block_idx]
                    row[0] = preds[c["id"]]
                    k = 1
                    while k < 64:
                        rs = _huff_decode(reader, act)
                        r, sz = rs >> 4, rs & 15
                        if sz == 0:
                            if r != 15:
                                break  # EOB
                            k += 16
                            continue
                        k += r
                        if k > 63:
                            return None
                        row[k] = _extend(reader.bits(sz), sz)
                        k += 1
    planes = []
    for c in comps:
        tq = qt.get(c["tq"])
        if tq is None:
            return None
        zz = coefs[c["id"]] * tq  # dequantize in zigzag order
        natural = np.zeros_like(zz)
        natural[:, ZIGZAG] = zz
        blocks = natural.reshape(-1, 8, 8)
        pix = _C.T @ blocks @ _C + 128.0  # vectorized IDCT over all blocks
        bh, bw = mcus_y * c["v"], mcus_x * c["h"]
        plane = (
            pix.reshape(bh, bw, 8, 8).transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // c["v"], 0), hmax // c["h"], 1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        # round-to-nearest before the cast: astype truncates, which would
        # bias every reconstructed sample that lands at x.9999 down by one
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)[:, :, None]
    y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
    rgb = np.stack(
        [
            y + 1.402 * cr,
            y - 0.344136 * cb - 0.714136 * cr,
            y + 1.772 * cb,
        ],
        axis=2,
    )
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def encode_jpeg(
    pixels: np.ndarray,
    quality: int = 85,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF bytes for (h, w, {1,3}) uint8 pixels — deterministic
    test/datagen inverse of decode_jpeg_pixels. ``subsampling`` is "444",
    "422" or "420" (3-channel only); ``restart_interval`` > 0 emits DRI/RSTn
    every that-many MCUs (exercises the decoder's restart path)."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    if ch not in (1, 3) or h == 0 or w == 0:
        raise ValueError("encode_jpeg wants (h, w, 1|3) uint8 pixels")
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")
    sub = subsampling if ch == 3 else "444"
    q_luma, q_chroma = _quality_tables(quality)

    img = px.astype(np.float64)
    if ch == 3:
        r, g, b = img[:, :, 0], img[:, :, 1], img[:, :, 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        raw_planes = [y, cb, cr]
    else:
        raw_planes = [img[:, :, 0]]

    hv = {
        "444": [(1, 1)] * 3,
        "422": [(2, 1), (1, 1), (1, 1)],
        "420": [(2, 2), (1, 1), (1, 1)],
    }[sub][: len(raw_planes)]
    hmax = max(a for a, _ in hv)
    vmax = max(b for _, b in hv)
    mcu_h, mcu_w = 8 * vmax, 8 * hmax
    ph = -(-h // mcu_h) * mcu_h
    pw = -(-w // mcu_w) * mcu_w
    mcus_y, mcus_x = ph // mcu_h, pw // mcu_w

    planes = []
    for (ch_h, ch_v), plane in zip(hv, raw_planes):
        p = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
        if (ch_h, ch_v) != (hmax, vmax):
            sy, sx = vmax // ch_v, hmax // ch_h
            # box-average downsample (sy, sx are 1 or 2 here)
            p = p.reshape(ph // sy, sy, pw // sx, sx).mean(axis=(1, 3))
        planes.append(p)

    # FDCT + quantize every block of every component, zigzag order
    qtabs = [q_luma] + [q_chroma] * (len(planes) - 1)
    comp_zz = []
    for p, qt in zip(planes, qtabs):
        bh, bw = p.shape[0] // 8, p.shape[1] // 8
        blocks = p.reshape(bh, 8, bw, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8) - 128.0
        coef = _C @ blocks @ _C.T
        qz = np.rint(coef.reshape(-1, 64) / qt.ravel())
        comp_zz.append((qz[:, ZIGZAG].astype(np.int64), bw))

    # MCU-ordered token stream: per block (dc_sym, dc_val_bits) + AC tokens
    n_comp = len(planes)
    tbl_of = [0] + [1] * (n_comp - 1)  # huffman/quant table id per component
    dc_freq = [np.zeros(256, dtype=np.int64) for _ in range(2)]
    ac_freq = [np.zeros(256, dtype=np.int64) for _ in range(2)]
    segments: list[list[tuple]] = []  # restart segments of block token lists
    preds = [0] * n_comp
    tokens: list[tuple] = []
    for m in range(mcus_y * mcus_x):
        if restart_interval and m and m % restart_interval == 0:
            segments.append(tokens)
            tokens = []
            preds = [0] * n_comp
        my, mx = divmod(m, mcus_x)
        for ci in range(n_comp):
            ch_h, ch_v = hv[ci]
            zz, bw = comp_zz[ci]
            t = tbl_of[ci]
            for by in range(ch_v):
                for bx in range(ch_h):
                    row = zz[(my * ch_v + by) * bw + (mx * ch_h + bx)]
                    diff = int(row[0]) - preds[ci]
                    preds[ci] = int(row[0])
                    s = int(abs(diff)).bit_length()
                    v = diff if diff >= 0 else diff + (1 << s) - 1
                    dc_freq[t][s] += 1
                    ac: list[tuple[int, int, int]] = []
                    run = 0
                    nz = np.nonzero(row[1:])[0]
                    last = int(nz[-1]) + 1 if len(nz) else 0
                    for k in range(1, last + 1):
                        c = int(row[k])
                        if c == 0:
                            run += 1
                            continue
                        while run > 15:
                            ac.append((0xF0, 0, 0))
                            ac_freq[t][0xF0] += 1
                            run -= 16
                        cs = int(abs(c)).bit_length()
                        cv = c if c >= 0 else c + (1 << cs) - 1
                        ac.append(((run << 4) | cs, cs, cv))
                        ac_freq[t][(run << 4) | cs] += 1
                        run = 0
                    if last < 63:
                        ac.append((0x00, 0, 0))
                        ac_freq[t][0x00] += 1
                    tokens.append((t, s, v, ac))
    segments.append(tokens)

    n_tables = 1 if n_comp == 1 else 2
    dc_tabs = [_optimal_huffman(dc_freq[t]) for t in range(n_tables)]
    ac_tabs = [_optimal_huffman(ac_freq[t]) for t in range(n_tables)]
    dc_codes = [_codes_from_table(*t) for t in dc_tabs]
    ac_codes = [_codes_from_table(*t) for t in ac_tabs]

    wr = _BitWriter()
    entropy = bytearray()
    for si, seg in enumerate(segments):
        if si:
            wr.pad_to_byte()
            entropy += wr.out
            wr.out = bytearray()
            entropy += bytes([0xFF, 0xD0 + ((si - 1) % 8)])
        for t, s, v, ac in seg:
            code, length = dc_codes[t][s]
            wr.write(code, length)
            wr.write(v, s)
            for sym, cs, cv in ac:
                code, length = ac_codes[t][sym]
                wr.write(code, length)
                wr.write(cv, cs)
    wr.pad_to_byte()
    entropy += wr.out

    def seg_marker(marker: int, body: bytes) -> bytes:
        return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg_marker(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    for tq, qt in enumerate(qtabs[:n_tables]):
        zz_tbl = qt.reshape(8, 8).ravel()[ZIGZAG].astype(np.uint8)
        out += seg_marker(0xDB, bytes([tq]) + zz_tbl.tobytes())
    sof = struct.pack(">BHHB", 8, h, w, n_comp)
    for ci in range(n_comp):
        sof += struct.pack(">BBB", ci + 1, (hv[ci][0] << 4) | hv[ci][1], tbl_of[ci])
    out += seg_marker(0xC0, sof)
    for tc, tabs in ((0, dc_tabs), (1, ac_tabs)):
        for th, (bits, vals) in enumerate(tabs):
            out += seg_marker(
                0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
            )
    if restart_interval:
        out += seg_marker(0xDD, struct.pack(">H", restart_interval))
    sos = bytes([n_comp])
    for ci in range(n_comp):
        sos += struct.pack(">BB", ci + 1, (tbl_of[ci] << 4) | tbl_of[ci])
    sos += b"\x00\x3f\x00"
    out += seg_marker(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)
