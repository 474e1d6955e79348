"""Multimodal columns: opaque binary payloads + typed metadata.

Training-data-pipeline requirement: treat image/audio/video as opaque
``binary`` columns; decode / feature-extract / resize / frame-sample
run as Arrow-batched ``mapInPandas`` stages.

Two decode tiers:

- **Real, dependency-free codecs** for the formats a header+payload
  parse (plus, for JPEG, a from-scratch entropy decoder) can handle
  with stdlib + numpy: 24-bpp uncompressed **BMP** (:func:`decode_bmp`,
  :func:`encode_bmp`, nearest-neighbor :func:`resize_bmp`), **PNG**
  (:func:`decode_png` — stdlib zlib inflate + full
  None/Sub/Up/Average/Paeth filter reconstruction; 8-bit grey/RGB/RGBA
  non-interlaced), **JPEG** (:func:`decode_jpeg` — real
  Huffman decode + the frozen CCJpegRecon v1 integer IDCT/upsample/
  color-convert spec; baseline SOF0 AND progressive SOF2 with
  spectral selection + successive approximation; 4:4:4 / 4:2:2 /
  4:2:0 / greyscale, restart markers) and **PCM WAV**
  (:func:`decode_wav`). These feed
  :func:`media_stats`, whose integer-exact output (pixel channel sums,
  sample abs-sums, zero crossings) is oracle-checkable — corrupt or
  foreign payloads degrade to NULL stats instead of killing the job,
  which is the behavior you want on a 100-TB crawl.
- **Stubbed codecs** for everything else (MP4, ...):
  :func:`decode_payload` raises for those formats and tests exercise
  the Spark plumbing — schema, partitioning, UDF signature, batch
  shape — against :func:`fake_decode` (deterministic md5-derived
  pseudo-features).

Scale notes: payload bytes stay columnar end-to-end (Parquet binary →
Arrow buffer → pandas bytes); featurization is embarrassingly
parallel (no shuffle); ``repartition`` before the stage controls task
granularity when payloads are large and row counts small.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_SCHEMA = "url string, kind string, payload binary, width int, height int, duration_ms int"
FEATURE_SCHEMA = (
    "url string, kind string, n_bytes bigint, sha1 string, "
    "feature array<float>, frames_sampled int"
)

FEATURE_DIM = 8


# ---------------------------------------------------------------------------
# real dependency-free codecs: 24-bpp BMP + PCM WAV
# ---------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Uncompressed 24-bpp BITMAPINFOHEADER BMP → (width, height,
    pixels[h, w, 3] uint8 in RGB order, row 0 = top). Raises ValueError
    on anything that is not that exact format (strictness belongs to
    the caller; :func:`media_stats` converts it to NULL stats)."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise ValueError("not a BMP")
    pixel_off = struct.unpack_from("<I", payload, 10)[0]
    hdr_size = struct.unpack_from("<I", payload, 14)[0]
    w, h = struct.unpack_from("<ii", payload, 18)
    planes, bpp, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant (need 24-bpp uncompressed)")
    if w <= 0 or h == 0:
        raise ValueError("degenerate BMP dimensions")
    bottom_up = h > 0
    h = abs(h)
    row_size = (3 * w + 3) & ~3  # rows padded to 4 bytes
    need = pixel_off + row_size * h
    if len(payload) < need:
        raise ValueError("truncated BMP pixel data")
    raw = np.frombuffer(payload, dtype=np.uint8, count=row_size * h, offset=pixel_off)
    rows = raw.reshape(h, row_size)[:, : 3 * w].reshape(h, w, 3)
    if bottom_up:
        rows = rows[::-1]
    return w, h, rows[:, :, ::-1].copy()  # BGR → RGB


def encode_bmp(pixels: np.ndarray) -> bytes:
    """pixels[h, w, 3] uint8 RGB → uncompressed 24-bpp bottom-up BMP
    bytes (the exact dialect :func:`decode_bmp` reads)."""
    h, w = pixels.shape[:2]
    row_size = (3 * w + 3) & ~3
    img_size = row_size * h
    header = b"BM" + struct.pack("<IHHI", 54 + img_size, 0, 0, 54)
    header += struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, img_size, 2835, 2835, 0, 0)
    body = np.zeros((h, row_size), dtype=np.uint8)
    body[:, : 3 * w] = pixels[::-1, :, ::-1].reshape(h, 3 * w)  # RGB → BGR, top → bottom-up
    return header + body.tobytes()


def resize_bmp(payload: bytes, target_w: int, target_h: int) -> bytes:
    """REAL image resize for BMP payloads: decode → nearest-neighbor
    resample → re-encode. Deterministic (pure index arithmetic)."""
    w, h, px = decode_bmp(payload)
    xs = (np.arange(target_w) * w) // target_w
    ys = (np.arange(target_h) * h) // target_h
    return encode_bmp(px[ys][:, xs])


def resize_image(payload: bytes, target_w: int, target_h: int) -> bytes:
    """REAL image resize across the dependency-free formats: BMP, PNG
    or baseline JPEG in, nearest-neighbor resample, 24-bpp BMP out
    (the one format we can *encode* without libs — normalizing to a
    single storage format is what a curation pipeline does anyway)."""
    if payload is not None and payload[:8] == PNG_SIG:
        w, h, px = decode_png(payload)
    elif payload is not None and payload[:2] == b"\xff\xd8":
        w, h, px = decode_jpeg(payload)
    else:
        w, h, px = decode_bmp(payload)
    xs = (np.arange(target_w) * w) // target_w
    ys = (np.arange(target_h) * h) // target_h
    return encode_bmp(px[ys][:, xs])


PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Dependency-free PNG → (width, height, pixels[h, w, 3] uint8 RGB,
    row 0 = top). stdlib ``zlib`` inflate + full filter reconstruction
    (None/Sub/Up/Average/Paeth, RFC 2083 §6) — the same pattern as the
    BMP parser: header+payload parse, no codec libs.

    Supported: 8-bit, non-interlaced, color types 0 (greyscale —
    replicated to RGB), 2 (RGB) and 6 (RGBA — alpha DROPPED, not
    composited; stats are over the raw channel bytes). Palette (3),
    grey+alpha (4), 16-bit and Adam7 raise ValueError — the caller's
    degrade-to-NULL contract handles them like any foreign payload.
    """
    if len(payload) < 8 + 25 or payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        (clen,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) < clen:
            raise ValueError("truncated PNG chunk")
        if ctype == b"IHDR":
            if len(body) < 13:
                raise ValueError("short IHDR chunk")
            ihdr = struct.unpack(">IIBBBBB", body[:13])
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 8 + clen + 4  # skip CRC (decode is not an integrity checker)
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, bit_depth, color_type, compression, filter_method, interlace = ihdr
    # 16M-pixel cap: Average/Paeth rows reconstruct per byte in Python,
    # so the cap bounds worst-case task time, not just memory
    if w <= 0 or h <= 0 or w * h > 1 << 24:
        raise ValueError("degenerate PNG dimensions")
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if (
        channels is None
        or bit_depth != 8
        or compression != 0
        or filter_method != 0
        or interlace != 0
    ):
        raise ValueError(
            "unsupported PNG variant (need 8-bit non-interlaced grey/RGB/RGBA)"
        )
    stride = w * channels
    # bounded inflate: cap output at the scanline budget so a
    # decompression-bomb IDAT cannot materialize GBs before the
    # length check runs (deflate allows ~1000:1)
    raw = zlib.decompressobj().decompress(bytes(idat), (stride + 1) * h)
    if len(raw) < (stride + 1) * h:
        raise ValueError("truncated PNG scanline data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=off + 1).astype(
            np.int64
        )
        if ftype == 0:
            cur = line
        elif ftype == 2:  # Up — vectorized across the row
            cur = (line + prev) & 0xFF
        elif ftype == 1:
            # Sub — cur[x] = line[x] + cur[x-bpp]: a mod-256 running
            # sum per channel lane; uint8 cumsum wraps exactly mod 256
            cur = (
                np.cumsum(
                    line.astype(np.uint8).reshape(w, channels), axis=0, dtype=np.uint8
                )
                .reshape(stride)
                .astype(np.int64)
            )
        elif ftype in (3, 4):  # Average/Paeth — sequential in x
            cur = np.zeros(stride, dtype=np.int64)
            for x in range(stride):
                a = cur[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                if ftype == 3:
                    cur[x] = (line[x] + (a + b) // 2) & 0xFF
                else:
                    cur[x] = (line[x] + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    px = out.reshape(h, w, channels)
    if color_type == 0:
        px = np.repeat(px, 3, axis=2)
    elif color_type == 6:
        px = px[:, :, :3]
    return w, h, px.copy()


# ---------------------------------------------------------------------------
# baseline JPEG (SOF0) — dependency-free Huffman + integer IDCT
# ---------------------------------------------------------------------------
#
# Reconstruction is pinned by the FROZEN "CCJpegRecon v1" spec so the
# synth-side golden (an independent scalar implementation over the
# quantized coefficients) hashes identically:
#
# - zigzag: the ISO 10918-1 diagonal walk (generated, not memorized).
# - IDCT: integer fixed-point. ct[u][x] = round(2^14 · k(u) ·
#   cos((2x+1)uπ/16)) with k(0)=1/(2√2), k(u>0)=1/2; sample(y,x) =
#   ((Σ_{v,u} coef[v,u]·ct[v][y]·ct[u][x] + 2^27) >> 28) + 128,
#   clipped to [0,255]. int64-exact: |coef| ≤ 255·2047, |ct| ≤ 8192 ⇒
#   |Σ| ≤ 64·255·2047·8192² < 2^62.
# - chroma upsample: pixel replication (nearest), factor hmax/h_i ×
#   vmax/v_i.
# - YCbCr→RGB: libjpeg's 2^16 fixed-point constants with arithmetic
#   shift, e.g. R = clip(Y + ((91881·(Cr−128) + 32768) >> 16)).
#
# Decode supports: baseline sequential (SOF0) AND progressive (SOF2,
# spectral selection + successive approximation, Annex G), 8-bit,
# 1 or 3 components, sampling factors whose max is 1 or 2 (4:4:4,
# 4:2:2, 4:2:0), restart markers, byte stuffing. Arithmetic coding,
# 12-bit and hierarchical raise ValueError — degrade-to-NULL at the
# media_stats layer, same as PNG variants.

_JPEG_IDCT_SCALE = 14


def _jpeg_zigzag() -> list[int]:
    """Zigzag position i → natural (row-major) index, via the diagonal
    walk: even diagonals run bottom-left→top-right, odd ones reverse."""
    order = []
    for s in range(15):
        rng = range(s, -1, -1) if s % 2 == 0 else range(s + 1)
        for r in rng:
            c = s - r
            if r < 8 and c < 8:
                order.append(r * 8 + c)
    return order


def _jpeg_idct_tab() -> np.ndarray:
    """ct[u][x] per CCJpegRecon v1 (int64 8×8)."""
    import math

    ct = np.zeros((8, 8), dtype=np.int64)
    for u in range(8):
        k = (1 / (2 * math.sqrt(2))) if u == 0 else 0.5
        for x in range(8):
            ct[u][x] = round((1 << _JPEG_IDCT_SCALE) * k * math.cos((2 * x + 1) * u * math.pi / 16))
    return ct


class _JpegBitReader:
    """MSB-first bit reader over the entropy-coded segment: un-stuffs
    0xFF00, stops at any other marker (position left AT the 0xFF)."""

    __slots__ = ("data", "pos", "bitbuf", "bitcnt")

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.bitcnt = 0

    def _fill(self):
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy data")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            else:
                # a real marker: feed 0 bits (spec: the decoder must
                # have hit EOB by now; extra reads are padding)
                self.bitbuf = (self.bitbuf << 8) & 0xFFFFFFFF
                self.bitcnt += 8
                return
        else:
            self.pos += 1
        self.bitbuf = ((self.bitbuf << 8) | b) & 0xFFFFFFFF
        self.bitcnt += 8

    def bits(self, n: int) -> int:
        while self.bitcnt < n:
            self._fill()
        self.bitcnt -= n
        return (self.bitbuf >> self.bitcnt) & ((1 << n) - 1)

    def align_and_expect_rst(self, idx: int):
        """Byte-align and consume the next RSTn marker (n = idx mod 8);
        0xFF runs before the marker code are legal fill (B.1.1.2)."""
        self.bitcnt = 0
        d = self.data
        p = self.pos
        while p + 1 < len(d) and not (d[p] == 0xFF and d[p + 1] not in (0x00, 0xFF)):
            p += 1
        if p + 1 >= len(d) or d[p + 1] != 0xD0 + (idx % 8):
            raise ValueError("missing JPEG restart marker")
        self.pos = p + 2


def _huff_decoder(bits_counts: list[int], values: bytes):
    """Canonical Huffman (ISO 10918-1 F.16): per-length mincode/maxcode
    /valptr arrays → decode() walks one bit at a time."""
    mincode, maxcode, valptr = [0] * 17, [-1] * 17, [0] * 17
    code, k = 0, 0
    for length in range(1, 17):
        n = bits_counts[length - 1]
        if n:
            valptr[length] = k
            mincode[length] = code
            code += n
            maxcode[length] = code - 1
            k += n
        code <<= 1

    def decode(rd: _JpegBitReader) -> int:
        code = rd.bits(1)
        length = 1
        while length <= 16:
            if maxcode[length] >= 0 and code <= maxcode[length]:
                return values[valptr[length] + code - mincode[length]]
            code = (code << 1) | rd.bits(1)
            length += 1
        raise ValueError("invalid JPEG Huffman code")

    return decode


def _jpeg_extend(bits: int, size: int) -> int:
    """F.12 sign extension: 'size' raw bits → signed coefficient."""
    if size == 0:
        return 0
    return bits if bits >= (1 << (size - 1)) else bits - (1 << size) + 1


def _jpeg_scan_units(
    rd,
    scan,
    comps,
    huff,
    stores,
    zz,
    geom,
    restart_interval,
    progressive,
    band,
):
    """Decode ONE entropy-coded scan into the coefficient ``stores``.

    ``scan``: [(ci, td, ta)] over frame-component indices; ``geom`` is
    (w, h, hmax, vmax, mcux, mcuy); ``band`` is (Ss, Se, Ah, Al) —
    (0, 63, 0, 0) for a baseline sequential scan. Implements all four
    progressive scan families of ISO 10918-1 Annex G: DC first,
    DC successive-approximation refinement (raw bits), AC
    spectral-selection first (with EOB-run coding) and AC refinement
    (correction bits). Interleaved MCU order when the scan carries >1
    component; single-component scans walk the component's OWN block
    raster — ceil(ceil(w·hi/hmax)/8) wide, which is NOT the padded
    interleaved grid (the classic off-by-one-block trap when
    hi < hmax and the image width sits between the two paddings).
    """
    w, h, hmax, vmax, mcux, mcuy = geom
    Ss, Se, Ah, Al = band
    if Ss == 0 and Se != 0 and progressive:
        raise ValueError("progressive DC scan must have Se=0")
    if Ss > 0 and len(scan) != 1:
        raise ValueError("progressive AC scans carry exactly one component")
    interleaved = len(scan) > 1
    if interleaved:
        units = mcux * mcuy
    else:
        ci = scan[0][0]
        _, hi, vi, _ = comps[ci]
        bw = -(-(-(-w * hi // hmax)) // 8)
        bh = -(-(-(-h * vi // vmax)) // 8)
        units = bw * bh

    def blocks_of(u):
        """Yield (ci, by_abs, bx_abs) for scan unit u in spec order."""
        if interleaved:
            my, mx = divmod(u, mcux)
            for ci, td, ta in scan:
                _, hi, vi, _ = comps[ci]
                for by in range(vi):
                    for bx in range(hi):
                        yield ci, my * vi + by, mx * hi + bx
        else:
            yield scan[0][0], u // bw, u % bw

    dc_pred = {ci: 0 for ci, _, _ in scan}
    eobrun = 0
    tbl = {}
    for ci, td, ta in scan:
        if not progressive:
            if (0, td) not in huff or (1, ta) not in huff:
                raise ValueError("missing JPEG Huffman table")
            tbl[ci] = (huff[(0, td)], huff[(1, ta)])
        elif Ss == 0 and Ah == 0:
            if (0, td) not in huff:
                raise ValueError("missing JPEG DC Huffman table")
            tbl[ci] = huff[(0, td)]
        elif Ss > 0:
            if (1, ta) not in huff:
                raise ValueError("missing JPEG AC Huffman table")
            tbl[ci] = huff[(1, ta)]
    p1 = 1 << Al
    for u in range(units):
        if restart_interval and u and u % restart_interval == 0:
            rd.align_and_expect_rst(u // restart_interval - 1)
            dc_pred = {ci: 0 for ci, _, _ in scan}
            eobrun = 0
        for ci, by, bx in blocks_of(u):
            blk = stores[ci][by, bx]
            if Ss == 0 and not progressive:
                # baseline sequential: DC diff + full AC band per block
                dec_dc, dec_ac = tbl[ci]
                size = dec_dc(rd)
                if size > 11:
                    raise ValueError("bad JPEG DC size")
                dc_pred[ci] += _jpeg_extend(rd.bits(size), size) if size else 0
                blk[0] = dc_pred[ci]
                k = 1
                while k < 64:
                    rs = dec_ac(rd)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    k += r
                    if k > 63:
                        raise ValueError("JPEG AC run overflow")
                    blk[zz[k]] = _jpeg_extend(rd.bits(s), s)
                    k += 1
            elif Ss == 0 and Ah == 0:
                # progressive DC first: diff in the point-transformed
                # domain, stored left-shifted by Al
                size = tbl[ci](rd)
                if size > 11:
                    raise ValueError("bad JPEG DC size")
                dc_pred[ci] += _jpeg_extend(rd.bits(size), size) if size else 0
                blk[0] = dc_pred[ci] << Al
            elif Ss == 0:
                # DC refinement: one raw bit per block ORs in bit Al
                # (Python bitwise-or is two's-complement-correct for
                # negative stored values)
                if rd.bits(1):
                    blk[0] = int(blk[0]) | p1
            elif Ah == 0:
                # AC first scan over band [Ss, Se] with EOB-run coding
                if eobrun > 0:
                    eobrun -= 1
                    continue
                dec_ac = tbl[ci]
                k = Ss
                while k <= Se:
                    rs = dec_ac(rd)
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if r == 15:  # ZRL
                            k += 16
                            continue
                        eobrun = (1 << r) + (rd.bits(r) if r else 0) - 1
                        break  # current block is the run's first member
                    k += r
                    if k > Se:
                        raise ValueError("JPEG AC run overflow")
                    blk[zz[k]] = _jpeg_extend(rd.bits(s), s) << Al
                    k += 1
            else:
                # AC refinement (G.1.2.3): newly-significant coefs
                # arrive as ±1<<Al; already-nonzero ones take one
                # correction bit each, including inside ZRL spans and
                # EOB runs
                dec_ac = tbl[ci]
                m1 = -p1
                k = Ss
                if eobrun == 0:
                    while k <= Se:
                        rs = dec_ac(rd)
                        r, s = rs >> 4, rs & 0xF
                        if s:
                            if s != 1:
                                raise ValueError("bad JPEG refinement magnitude")
                            s = p1 if rd.bits(1) else m1
                        elif r != 15:
                            eobrun = (1 << r) + (rd.bits(r) if r else 0)
                            break  # tail handled by the sweep below
                        # advance over history: zero-history positions
                        # consume the run r, nonzero ones a correction bit
                        while k <= Se:
                            c = int(blk[zz[k]])
                            if c != 0:
                                if rd.bits(1) and (c & p1) == 0:
                                    blk[zz[k]] = c + (p1 if c >= 0 else m1)
                            else:
                                if r == 0:
                                    break
                                r -= 1
                            k += 1
                        if s and k <= Se:
                            blk[zz[k]] = s
                        k += 1
                if eobrun > 0:
                    while k <= Se:
                        c = int(blk[zz[k]])
                        if c != 0 and rd.bits(1) and (c & p1) == 0:
                            blk[zz[k]] = c + (p1 if c >= 0 else m1)
                        k += 1
                    eobrun -= 1


def decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Dependency-free JPEG → (width, height, pixels[h, w, 3] uint8
    RGB, row 0 = top). Real Huffman entropy decode — baseline
    sequential (SOF0) AND progressive (SOF2, spectral selection +
    successive approximation, Annex G) — + the frozen integer IDCT /
    upsample / color convert above. Arithmetic-coded, 12-bit,
    hierarchical and lossless frames raise ValueError — and so does
    EVERY malformed stream: short segment bodies, inconsistent scan
    geometry and zero sampling factors surface as Python
    IndexError/ZeroDivisionError deep in the scan decoder, which this
    wrapper maps to ValueError so the degrade-to-NULL contract at the
    media_stats layer holds for arbitrary crawl bytes (fuzz-pinned by
    ``test_jpeg_decode_corrupt_streams_degrade``).

    Scale note: entropy decode is per-coefficient Python, so the pixel
    cap is tighter than PNG's (2^20); a production cluster swaps in
    libjpeg-turbo behind the same ``decode_payload`` dispatch, and the
    stats contract (CCJpegRecon v1) stays the truth the golden checks.
    """
    try:
        return _decode_jpeg(payload)
    except (IndexError, ZeroDivisionError, struct.error) as e:
        # struct.error: a truncated fixed-layout segment body (DRI/SOF
        # with seglen shorter than its unpack) — same corrupt-stream
        # class as the index errors
        raise ValueError(f"corrupt JPEG stream ({type(e).__name__})") from e


def _decode_jpeg(payload: bytes) -> tuple[int, int, np.ndarray]:
    if len(payload) < 4 or payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    zz = _jpeg_zigzag()
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], object] = {}
    frame = None
    progressive = False
    restart_interval = 0
    stores = None
    geom = None
    got_scan = False
    pos = 2
    while pos + 4 <= len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = payload[pos + 1]
        if marker == 0xFF:  # fill byte before a marker code (B.1.1.2)
            pos += 1
            continue
        if marker == 0xD8 or 0xD0 <= marker <= 0xD7:  # SOI/RSTn: bare
            pos += 2
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", payload, pos + 2)
        body = payload[pos + 4 : pos + 2 + seglen]
        if len(body) != seglen - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:  # DQT
            at = 0
            while at < len(body):
                pq, tq = body[at] >> 4, body[at] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tab = np.zeros(64, dtype=np.int64)
                for i in range(64):
                    tab[zz[i]] = body[at + 1 + i]
                qt[tq] = tab.reshape(8, 8)
                at += 65
        elif marker == 0xC4:  # DHT
            at = 0
            while at < len(body):
                tc, th = body[at] >> 4, body[at] & 0xF
                counts = list(body[at + 1 : at + 17])
                n = sum(counts)
                huff[(tc, th)] = _huff_decoder(counts, body[at + 17 : at + 17 + n])
                at += 17 + n
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            if frame is not None:
                raise ValueError("multiple JPEG frames")
            progressive = marker == 0xC2
            prec, h, w, nc = body[0], *struct.unpack_from(">HH", body, 1), body[5]
            if prec != 8 or nc not in (1, 3):
                raise ValueError("unsupported JPEG frame (need 8-bit, 1 or 3 components)")
            comps = []
            for i in range(nc):
                cid, hv, tq = body[6 + 3 * i : 9 + 3 * i]
                if (hv >> 4) == 0 or (hv & 0xF) == 0:
                    raise ValueError("zero JPEG sampling factor")
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (h, w, comps)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("unsupported JPEG frame type (arithmetic/12-bit/hierarchical)")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS: decode this scan's entropy data now
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            h, w, comps = frame
            if stores is None:
                if w <= 0 or h <= 0 or w * h > 1 << 20:
                    raise ValueError("degenerate or oversized JPEG dimensions")
                hmax = max(c[1] for c in comps)
                vmax = max(c[2] for c in comps)
                if hmax not in (1, 2) or vmax not in (1, 2):
                    raise ValueError("unsupported JPEG sampling factors")
                mcux = -(-w // (8 * hmax))
                mcuy = -(-h // (8 * vmax))
                geom = (w, h, hmax, vmax, mcux, mcuy)
                # per-component natural-order coefficient stores,
                # padded to the interleaved MCU grid
                stores = [
                    np.zeros((mcuy * vi, mcux * hi, 64), dtype=np.int64)
                    for _, hi, vi, _ in comps
                ]
            ns = body[0]
            by_cid = {c[0]: i for i, c in enumerate(comps)}
            scan = []
            for i in range(ns):
                cs = body[1 + 2 * i]
                if cs not in by_cid:
                    raise ValueError("JPEG scan references unknown component")
                scan.append((by_cid[cs], body[2 + 2 * i] >> 4, body[2 + 2 * i] & 0xF))
            # a component may appear at most once per scan (B.2.3) — a
            # duplicate would silently mis-decode, not fail
            if len({ci for ci, _, _ in scan}) != len(scan):
                raise ValueError("duplicate component in JPEG scan")
            band = (body[1 + 2 * ns], body[2 + 2 * ns], body[3 + 2 * ns] >> 4, body[3 + 2 * ns] & 0xF)
            if not progressive:
                band = (0, 63, 0, 0)
                if len(scan) != len(comps):
                    raise ValueError("baseline JPEG scan must carry every component")
            rd = _JpegBitReader(payload, pos + 2 + seglen)
            _jpeg_scan_units(
                rd, scan, comps, huff, stores, zz, geom, restart_interval, progressive, band
            )
            got_scan = True
            # resync the marker loop at the next real marker; 0xFF runs
            # before a marker code are legal fill bytes (B.1.1.2), so
            # FF FF is padding, not a marker at the first FF
            p = rd.pos
            while p + 1 < len(payload) and not (
                payload[p] == 0xFF and payload[p + 1] not in (0x00, 0xFF)
            ):
                p += 1
            pos = p
            continue
        pos += 2 + seglen
    if frame is None or not got_scan:
        raise ValueError("missing JPEG SOF/SOS")
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    for _, _, _, tq in comps:
        if tq not in qt:
            raise ValueError("JPEG scan/quant table mismatch")

    # dequantize + vectorized integer IDCT per component, then
    # replicate-upsample each plane to the full MCU grid and crop
    ct = _jpeg_idct_tab()
    planes = []
    for (cid, hi, vi, tq), coefs in zip(comps, stores):
        coefs = coefs.reshape(coefs.shape[0], coefs.shape[1], 8, 8)
        dq = coefs * qt[tq]  # broadcast over the block grid
        s = np.einsum("yxvu,vi,uj->yxij", dq, ct, ct)
        px = (((s + (1 << 27)) >> 28) + 128).clip(0, 255)
        nby, nbx = px.shape[:2]
        plane = px.transpose(0, 2, 1, 3).reshape(nby * 8, nbx * 8)
        fy, fx = vmax // vi, hmax // hi
        if fy > 1 or fx > 1:
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        grey = planes[0].astype(np.uint8)
        return w, h, np.repeat(grey[:, :, None], 3, axis=2)
    y, cb, cr = planes
    cb_, cr_ = cb - 128, cr - 128
    r = y + ((91881 * cr_ + 32768) >> 16)
    g = y - ((22554 * cb_ + 46802 * cr_ + 32768) >> 16)
    b = y + ((116130 * cb_ + 32768) >> 16)
    rgb = np.stack([r, g, b], axis=2).clip(0, 255).astype(np.uint8)
    return w, h, rgb


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM (8- or 16-bit, any channel count) → (sample_rate,
    samples[n, channels] int32). Walks the chunk list so extra chunks
    (LIST, fact, ...) don't break the parse. Raises ValueError on
    non-PCM or malformed input."""
    if len(payload) < 44 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = struct.unpack_from("<I", payload, pos + 4)[0]
        body_at = pos + 8
        if cid == b"fmt " and size >= 16:
            fmt = struct.unpack_from("<HHIIHH", payload, body_at)
        elif cid == b"data":
            data = payload[body_at : body_at + size]
        pos = body_at + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or channels < 1 or bits not in (8, 16):
        raise ValueError("unsupported WAV variant (need 8/16-bit PCM)")
    if bits == 16:
        samples = np.frombuffer(data[: len(data) & ~1], dtype="<i2").astype(np.int32)
    else:  # 8-bit WAV is unsigned, centered at 128
        samples = np.frombuffer(data, dtype=np.uint8).astype(np.int32) - 128
    n = (len(samples) // channels) * channels
    return sample_rate, samples[:n].reshape(-1, channels)


def decode_payload(payload: bytes, kind: str):
    """Format dispatch on magic bytes. BMP, PNG and WAV decode for REAL
    (dependency-free parsers above); every other codec (JPEG/MP4/...)
    needs entropy-coding libraries NOT present in this container, so
    those raise — on a production cluster, swap in the actual decoder;
    everything downstream is format-agnostic."""
    if payload is not None and payload[:2] == b"BM":
        return decode_bmp(payload)
    if payload is not None and payload[:8] == PNG_SIG:
        return decode_png(payload)
    if payload is not None and payload[:2] == b"\xff\xd8":
        return decode_jpeg(payload)
    if payload is not None and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return decode_wav(payload)
    raise NotImplementedError(
        "only BMP/PNG/JPEG(baseline+progressive)/WAV decode without codec "
        "libs (none present in this environment); use fake_decode for "
        "plumbing tests of other formats (MP4/...)"
    )


MEDIA_STATS_SCHEMA = (
    "url string, kind string, n_bytes bigint, decoded int, "
    "width int, height int, n_pixels bigint, sum_r bigint, sum_g bigint, sum_b bigint, "
    "sample_rate int, n_samples bigint, sum_abs bigint, zero_crossings bigint"
)


def media_stats(media: DataFrame) -> DataFrame:
    """REAL decode → integer-exact per-item stats (oracle-checkable):
    images get pixel channel sums, audio gets abs-sum / zero-crossing
    counts over channel-0; payloads the dependency-free codecs cannot
    read (other formats, corrupt bytes) degrade to ``decoded = 0`` with
    NULL stats — a bad record must never kill a 100-TB decode job.

    Plan shape: one embarrassingly-parallel mapInPandas, no shuffle;
    numpy does the per-payload math, so the Python cost is per-item,
    not per-pixel."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in (
                "url", "kind", "n_bytes", "decoded", "width", "height", "n_pixels",
                "sum_r", "sum_g", "sum_b", "sample_rate", "n_samples", "sum_abs",
                "zero_crossings",
            )}
            for url, kind, payload in zip(pdf["url"], pdf["kind"], pdf["payload"]):
                row = dict.fromkeys(out, None)
                row["url"], row["kind"] = url, kind
                row["n_bytes"] = len(payload or b"")
                row["decoded"] = 0
                try:
                    if payload and (
                        payload[:2] in (b"BM", b"\xff\xd8") or payload[:8] == PNG_SIG
                    ):
                        if payload[:2] == b"BM":
                            w, h, px = decode_bmp(payload)
                        elif payload[:2] == b"\xff\xd8":
                            w, h, px = decode_jpeg(payload)
                        else:
                            w, h, px = decode_png(payload)
                        sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)
                        row.update(
                            decoded=1, width=w, height=h, n_pixels=w * h,
                            sum_r=int(sums[0]), sum_g=int(sums[1]), sum_b=int(sums[2]),
                        )
                    elif payload and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
                        rate, samples = decode_wav(payload)
                        ch0 = samples[:, 0]
                        neg = ch0 < 0
                        row.update(
                            decoded=1, sample_rate=rate, n_samples=len(ch0),
                            sum_abs=int(np.abs(ch0, dtype=np.int64).sum()),
                            zero_crossings=int((neg[1:] != neg[:-1]).sum()),
                        )
                except (ValueError, NotImplementedError, zlib.error, struct.error):
                    # corrupt payloads (bad deflate stream, short
                    # header, malformed chunk) degrade to NULL stats —
                    # a crawl batch must never kill the job
                    pass  # decoded stays 0, stats stay NULL
                for k, v in row.items():
                    out[k].append(v)
            pdf_out = pd.DataFrame(out)
            for c, dt in (
                ("n_bytes", "int64"), ("decoded", "Int32"), ("width", "Int32"),
                ("height", "Int32"), ("n_pixels", "Int64"), ("sum_r", "Int64"),
                ("sum_g", "Int64"), ("sum_b", "Int64"), ("sample_rate", "Int32"),
                ("n_samples", "Int64"), ("sum_abs", "Int64"), ("zero_crossings", "Int64"),
            ):
                pdf_out[c] = pdf_out[c].astype(dt)
            yield pdf_out

    return media.mapInPandas(gen, schema=MEDIA_STATS_SCHEMA)


AUDIO_FRAMES_SCHEMA = (
    "url string, frame_idx int, frame_start int, energy bigint, sum_abs bigint, "
    "zero_crossings bigint, peak bigint"
)


def audio_frames(media: DataFrame, frame: int = 32, hop: int = 16) -> DataFrame:
    """Windowed per-frame audio features over the REAL WAV decode —
    frozen "CCAudioFrames v1": channel 0 only; frame ``f`` covers
    samples ``[f·hop, f·hop + frame)`` and is emitted iff fully inside
    the clip; per frame the exact integers energy = Σv², sum_abs =
    Σ|v|, zero_crossings = sign flips over consecutive in-frame pairs
    (the media_stats convention, frame-local), peak = max|v|. Rows
    whose payload is not decodable PCM WAV produce nothing — the
    windowed analogue of media_stats' degrade-don't-kill contract.

    Plan shape: one embarrassingly-parallel mapInPandas fan-out (a few
    frame rows per clip), no shuffle; numpy builds all frames of a clip
    in one strided view, so Python cost is per-clip, not per-sample.
    16-bit PCM ⇒ |v| < 2¹⁵, so energy < frame·2³⁰ — int64-safe for any
    real frame length."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, fidx, starts, energy, sabs, zc, peak = [], [], [], [], [], [], []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                if not (payload and payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"):
                    continue
                try:
                    _, samples = decode_wav(payload)
                except (ValueError, struct.error):
                    continue
                ch0 = samples[:, 0].astype(np.int64)
                n_frames = (len(ch0) - frame) // hop + 1 if len(ch0) >= frame else 0
                if n_frames <= 0:
                    continue
                idx = np.arange(frame)[None, :] + hop * np.arange(n_frames)[:, None]
                w = ch0[idx]  # (n_frames, frame)
                neg = w < 0
                urls.extend([url] * n_frames)
                fidx.extend(range(n_frames))
                starts.extend((hop * np.arange(n_frames)).tolist())
                energy.extend((w * w).sum(axis=1).tolist())
                sabs.extend(np.abs(w).sum(axis=1).tolist())
                zc.extend((neg[:, 1:] != neg[:, :-1]).sum(axis=1).tolist())
                peak.extend(np.abs(w).max(axis=1).tolist())
            yield pd.DataFrame(
                {
                    "url": pd.Series(urls, dtype="string"),
                    "frame_idx": pd.Series(fidx, dtype="int32"),
                    "frame_start": pd.Series(starts, dtype="int32"),
                    "energy": pd.Series(energy, dtype="int64"),
                    "sum_abs": pd.Series(sabs, dtype="int64"),
                    "zero_crossings": pd.Series(zc, dtype="int64"),
                    "peak": pd.Series(peak, dtype="int64"),
                }
            )

    return media.mapInPandas(gen, schema=AUDIO_FRAMES_SCHEMA)


DHASH_SCHEMA = "url string, dhash string"


def dhash_hex(px: "np.ndarray") -> str:
    """Frozen "CCDHash v1" difference hash of an RGB pixel array
    (h, w, 3 uint8): integer luma ``(299r + 587g + 114b) // 1000``,
    nearest-neighbor resample to a 9×8 grid with the resize_bmp index
    rule (``xs[j] = j·w // 9``, ``ys[i] = i·h // 8``), then one bit per
    horizontally-adjacent pair — ``1`` iff ``left > right`` (strict) —
    packed row-major as bit ``y·8 + x`` and rendered as 16 lowercase
    hex chars. Pure integer arithmetic end to end, so the plan-side
    golden generator reproduces it bit-for-bit from the pixel lists.
    Identical pixels hash identically regardless of the container
    format — the cross-format perceptual-dedup key."""
    h_px, w_px = px.shape[:2]
    luma = (
        299 * px[:, :, 0].astype(np.int64)
        + 587 * px[:, :, 1].astype(np.int64)
        + 114 * px[:, :, 2].astype(np.int64)
    ) // 1000
    xs = (np.arange(9) * w_px) // 9
    ys = (np.arange(8) * h_px) // 8
    g = luma[ys][:, xs]
    bits = g[:, :-1] > g[:, 1:]  # (8, 8)
    h = 0
    for y in range(8):
        for x in range(8):
            if bits[y, x]:
                h |= 1 << (y * 8 + x)
    return format(h, "016x")


def image_dhash(media: DataFrame) -> DataFrame:
    """(url, dhash) for every payload the real codecs decode (BMP /
    PNG / baseline JPEG); undecodable rows emit nothing. One
    embarrassingly-parallel mapInPandas, no shuffle — the hash is the
    64-bit perceptual key downstream dedup joins on."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            urls, hashes = [], []
            for url, payload in zip(pdf["url"], pdf["payload"]):
                try:
                    if payload and payload[:2] == b"BM":
                        _, _, px = decode_bmp(payload)
                    elif payload and payload[:8] == PNG_SIG:
                        _, _, px = decode_png(payload)
                    elif payload and payload[:2] == b"\xff\xd8":
                        _, _, px = decode_jpeg(payload)
                    else:
                        continue
                except (ValueError, NotImplementedError, zlib.error, struct.error):
                    continue
                urls.append(url)
                hashes.append(dhash_hex(px))
            yield pd.DataFrame(
                {"url": pd.Series(urls, dtype="string"), "dhash": pd.Series(hashes, dtype="string")}
            )

    return media.mapInPandas(gen, schema=DHASH_SCHEMA)


def dhash_near_duplicates(
    media: DataFrame | None, max_hamming: int = 3, hashed: DataFrame | None = None
) -> DataFrame:
    """(url_a, url_b, hamming) — perceptual image near-dup pairs: the
    pigeonhole-banding retrieval (Manku et al., WWW'07) applied to
    CCDHash keys. Four 16-bit bands (4 hex chars each); a pair with
    hamming ≤ 3 < 4 bands must agree on SOME whole band (pigeonhole),
    so the band equi-join has perfect recall and the exact
    ``bit_count(xor)`` verify over the four bands keeps precision. Band
    values are 16-bit non-negative ints, so hex→int→xor→bit_count is
    engine-portable (no signed-shift semantics anywhere).

    Scale shape: NO crossJoin — candidates come from the (band, code)
    equi-join over 4 rows per image; the verify re-joins the two hex
    keys by url. Exactly the MinHash-LSH / SimHash shape the text side
    uses, which is what you want when the corpus is 10¹⁰ crawl images.
    """
    # persist the (url, dhash) projection: the band self-join reads it
    # twice, and without the cache each side would re-run the Python
    # image decode over every payload. Callers that already hold the
    # hash table (jobs/dedup_media.py) pass it via ``hashed`` and keep
    # ownership of its lifecycle.
    own = hashed is None
    if own:
        hashed = image_dhash(media).persist()
    band = hashed.select(
        "url",
        "dhash",
        F.posexplode(
            F.array(*[F.substring("dhash", 1 + 4 * b, 4) for b in range(4)])
        ).alias("band", "code"),
    )
    cand = (
        band.select(F.col("url").alias("url_a"), F.col("dhash").alias("ha"), "band", "code")
        .join(
            band.select(F.col("url").alias("url_b"), F.col("dhash").alias("hb"), "band", "code"),
            ["band", "code"],
        )
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b", "ha", "hb")
        .distinct()
    )
    ham = sum(
        F.bit_count(
            F.conv(F.substring("ha", 1 + 4 * b, 4), 16, 10).cast("bigint")
            .bitwiseXOR(F.conv(F.substring("hb", 1 + 4 * b, 4), 16, 10).cast("bigint"))
        )
        for b in range(4)
    )
    out = (
        cand.withColumn("hamming", ham.cast("bigint"))
        .where(F.col("hamming") <= max_hamming)
        .select("url_a", "url_b", "hamming")
    )
    if own:
        out = out.localCheckpoint(eager=True)
        hashed.unpersist()
    return out


def perceptual_dedup(
    media: DataFrame, max_hamming: int = 3
) -> tuple[DataFrame, DataFrame, dict]:
    """The CCDHash perceptual-dedup chain shared by
    ``jobs/dedup_media.py`` and the ``--media-out`` leg of
    ``jobs/ingest_crawl.py`` (one implementation, so the two callers
    cannot drift): hash every decodable image ONCE (persisted), banded
    near-dup pairs, transitive clustering, min-url survivor per
    cluster. Returns ``(survivors, pairs, lineage)`` with lineage =
    ``{n_images_hashed, n_pairs, n_dropped}``. ``media`` must carry
    (url, kind, payload) with unique urls and is scanned twice (the
    hash pass and the final anti-join) — persist it at the call site
    when it is expensive to recompute."""
    from pignlproc_spark.operators.dedup import connected_components

    hashed = image_dhash(media.select("url", "kind", "payload")).persist()
    n_hashed = hashed.count()
    pairs = dhash_near_duplicates(
        None, max_hamming=max_hamming, hashed=hashed
    ).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    drop = (
        connected_components(pairs, src_col="url_a", dst_col="url_b", out_type=None)
        .where(F.col("doc_id") != F.col("component_id"))
        .select(F.col("doc_id").alias("url"))
    )
    n_drop = drop.count()
    # left-anti on url; AQE picks broadcast when the drop set is small
    # (forcing broadcast would be wrong at crawl scale if the dup rate
    # is high)
    survivors = media.join(drop, "url", "left_anti")
    hashed.unpersist()
    return survivors, pairs, {
        "n_images_hashed": n_hashed,
        "n_pairs": n_pairs,
        "n_dropped": n_drop,
    }


def fake_decode(payload: bytes, kind: str) -> tuple[list[float], int]:
    """Deterministic stand-in: md5-derived pseudo-feature vector +
    pseudo frame count. Same input bytes ⇒ same features, any
    partitioning/parallelism."""
    if payload is None:
        payload = b""
    d = hashlib.md5(kind.encode() + b":" + payload).digest()
    feats = [round(b / 255.0, 6) for b in d[:FEATURE_DIM]]
    frames = 1 + d[FEATURE_DIM] % 16
    return feats, frames


def extract_media_features(media: DataFrame, decoder=fake_decode) -> DataFrame:
    """media(url, kind, payload, ...) → per-item features via
    mapInPandas (Arrow batches; decoder called once per row inside the
    batch loop — amortized setup belongs in the iterator prologue)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per-task setup (codec init in the real decoder) goes here
        for pdf in batches:
            feats, frames, shas, nbytes = [], [], [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                f, fr = decoder(payload, kind)
                feats.append(f)
                frames.append(fr)
                shas.append(hashlib.sha1(payload or b"").hexdigest())
                nbytes.append(len(payload or b""))
            yield pd.DataFrame(
                {
                    "url": pdf["url"],
                    "kind": pdf["kind"],
                    "n_bytes": nbytes,
                    "sha1": shas,
                    "feature": feats,
                    "frames_sampled": frames,
                }
            )

    return media.mapInPandas(gen, schema=FEATURE_SCHEMA)


RESIZE_SCHEMA = "url string, kind string, payload binary, width int, height int"
FRAMES_SCHEMA = "url string, frame_idx int, frame binary, ts_ms int"


def fake_resize(payload: bytes, target_w: int, target_h: int) -> bytes:
    """Deterministic stand-in for image resize: real impl would decode
    → resample → re-encode; the fake keeps a size-proportional,
    content-derived payload so downstream schema/partition tests are
    meaningful."""
    base = hashlib.md5(payload or b"").digest()
    need = max(1, (target_w * target_h) // 64)
    return (base * (need // len(base) + 1))[:need]


def resize_images(media: DataFrame, target_w: int = 64, target_h: int = 64, resizer=fake_resize) -> DataFrame:
    """Image resize stage via mapInPandas — payload-in, payload-out,
    metadata updated; only 'image' rows transform, others pass with
    untouched payloads filtered out upstream by the caller."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pdf[pdf["kind"] == "image"].copy()
            out["payload"] = [resizer(p, target_w, target_h) for p in out["payload"]]
            out["width"] = target_w
            out["height"] = target_h
            yield out[["url", "kind", "payload", "width", "height"]]

    return media.mapInPandas(gen, schema=RESIZE_SCHEMA)


def fake_frame_iter(payload: bytes, every_ms: int):
    """Deterministic stand-in for video frame sampling: yields
    (frame_idx, frame_bytes, ts_ms) pseudo-frames derived from the
    payload; a real impl wraps pyav/ffmpeg seek+decode."""
    d = hashlib.md5(payload or b"").digest()
    n = 1 + d[0] % 8
    for i in range(n):
        yield i, hashlib.md5(d + bytes([i])).digest(), i * every_ms


def sample_frames(media: DataFrame, every_ms: int = 1000, framer=fake_frame_iter) -> DataFrame:
    """Frame sampling = per-item fan-out: mapInPandas emitting multiple
    rows per input (the UDTF shape; batch boundaries preserved so a
    giant video never materializes all frames at once when the real
    decoder streams)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"url": [], "frame_idx": [], "frame": [], "ts_ms": []}
            for url, kind, payload in zip(pdf["url"], pdf["kind"], pdf["payload"]):
                if kind != "video":
                    continue
                for idx, frame, ts in framer(payload, every_ms):
                    rows["url"].append(url)
                    rows["frame_idx"].append(idx)
                    rows["frame"].append(frame)
                    rows["ts_ms"].append(ts)
            yield pd.DataFrame(rows)

    return media.mapInPandas(gen, schema=FRAMES_SCHEMA)


def fake_media_df(spark, n: int = 64) -> DataFrame:
    """Deterministic synthetic media table for plumbing tests."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.md5(f"media:{i}".encode()).digest() * (4 + i % 7)
        rows.append((f"https://m.example/{i}", kind, bytearray(payload), 64 + i, 48 + i, 1000 * (i % 30)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
