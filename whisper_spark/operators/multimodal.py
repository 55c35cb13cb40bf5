"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed through Arrow-batched ``mapInPandas``.

The Spark-side plumbing here is real and tested — schema contracts,
partitioning, batch shapes, UDF signatures — and so is container-header
decoding for the common formats: PNG, GIF, BMP, JPEG dimensions and WAV
sample-rate/channels/duration are parsed from the payload bytes with the
stdlib only (``decoder="auto"``, the default).  PNG pixel decode is
ALSO real and stdlib-only: :func:`decode_pixels` inflates the IDAT
stream with zlib and reconstructs every scanline (all five PNG filter
types), oracle-gated end to end (queries.py ``mm_decode_pixels``).
WAV PCM sample decode is real too: :func:`decode_samples` walks the
RIFF chunks and reads 8/16-bit integer PCM with numpy, oracle-gated
end to end (queries.py ``mm_decode_wav_pcm``).  What stays stubbed is
COMPRESSED audio/video payload decode (needs ffmpeg-class codecs,
absent from this container): unknown formats fall back to
deterministic md5-derived pseudo-metadata, and the 8-dim feature is
digest-derived.  Plug a full decoder in by passing
``decoder=callable(payload: bytes) -> dict``; everything around it
(Arrow transfer, batching, schema) is unchanged.

Scale notes: media payloads are large and skew partition sizes — wrap
datasets with :func:`repartition_by_bytes` before heavy stages so each
task sees a bounded byte budget rather than a bounded row count.
``mapInPandas`` streams record batches, so one task never materializes
its whole partition.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: contract for a media table: payload + typed metadata struct
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
            True,
        ),
    ]
)

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)


def _make_header_parser() -> Callable[[bytes], dict | None]:
    """Build the stdlib container-header parser.

    Defined as a closure (factory) on purpose: cloudpickle serializes
    closures BY VALUE, so Spark's Python workers never need
    ``whisper_spark`` on their PYTHONPATH (a driver-side sys.path tweak
    does not propagate to workers).  The module-level
    :data:`parse_media_header` below is the same object for unit tests.
    """
    import struct

    def parse_header(p: bytes) -> dict | None:
        """Return {mime, width, height, duration_ms} for recognized
        container formats, None otherwise.  Header-only: dimensions and
        timing come from the container metadata, no pixel/sample decode."""
        n = len(p)
        # PNG: 8-byte magic, then the IHDR chunk (len + 'IHDR' + w + h BE)
        if n >= 24 and p[:8] == b"\x89PNG\r\n\x1a\n" and p[12:16] == b"IHDR":
            w, h = struct.unpack(">II", p[16:24])
            return {"mime": "image/png", "width": w, "height": h, "duration_ms": None}
        # GIF87a / GIF89a: logical screen descriptor, little-endian u16
        if n >= 10 and p[:6] in (b"GIF87a", b"GIF89a"):
            w, h = struct.unpack("<HH", p[6:10])
            return {"mime": "image/gif", "width": w, "height": h, "duration_ms": None}
        # BMP: 'BM' + u32 file size (validated against the actual payload
        # length so ASCII text starting with "BM" can't false-positive),
        # DIB BITMAPINFOHEADER at offset 14
        if n >= 26 and p[:2] == b"BM":
            (fsize,) = struct.unpack("<I", p[2:6])
            (dib,) = struct.unpack("<I", p[14:18])
            if fsize == n and dib in (40, 52, 56, 108, 124):
                w, h = struct.unpack("<ii", p[18:26])
                return {
                    "mime": "image/bmp", "width": abs(w), "height": abs(h),
                    "duration_ms": None,
                }
        # JPEG: scan markers for a start-of-frame (C0-CF minus C4/C8/CC)
        if n >= 4 and p[:3] == b"\xff\xd8\xff":
            i = 2
            while i + 9 < n:
                if p[i] != 0xFF:
                    break
                marker = p[i + 1]
                if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                    i += 2
                    continue
                (seglen,) = struct.unpack(">H", p[i + 2 : i + 4])
                if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                    h, w = struct.unpack(">HH", p[i + 5 : i + 9])
                    return {
                        "mime": "image/jpeg", "width": w, "height": h,
                        "duration_ms": None,
                    }
                i += 2 + seglen
            return {"mime": "image/jpeg", "width": None, "height": None,
                    "duration_ms": None}
        # FLAC: 'fLaC' magic, then the mandatory STREAMINFO block —
        # 8 packed bytes carry samplerate(20b)/channels(3b)/bps(5b)/
        # total samples(36b); duration = samples / rate
        if n >= 26 and p[:4] == b"fLaC":
            u64 = int.from_bytes(p[18:26], "big")
            sr = u64 >> 44
            total = u64 & ((1 << 36) - 1)
            dur = total * 1000 // sr if sr and total else None
            return {"mime": "audio/flac", "width": None, "height": None,
                    "duration_ms": dur}
        # MP3: optional ID3v2 tag (syncsafe length), then an MPEG frame
        # sync.  Duration is the CBR estimate audio_bytes*8/bitrate —
        # exact for CBR files, the standard header-only approximation
        # for VBR
        if n >= 10 and (p[:3] == b"ID3" or (p[0] == 0xFF and p[1] & 0xE0 == 0xE0)):
            off = 0
            if p[:3] == b"ID3":
                off = 10 + (
                    (p[6] << 21) | (p[7] << 14) | (p[8] << 7) | p[9]
                )
            if off + 4 <= n and p[off] == 0xFF and p[off + 1] & 0xE0 == 0xE0:
                ver = (p[off + 1] >> 3) & 0x3   # 3=MPEG1 2=MPEG2 0=MPEG2.5
                layer = (p[off + 1] >> 1) & 0x3  # 1=Layer III
                br_idx = (p[off + 2] >> 4) & 0xF
                dur = None
                if layer == 1 and br_idx not in (0, 15):
                    table = (
                        [0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                         192, 224, 256, 320]
                        if ver == 3
                        else [0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96,
                              112, 128, 144, 160]
                    )
                    bitrate = table[br_idx] * 1000
                    dur = (n - off) * 8 * 1000 // bitrate if bitrate else None
                return {"mime": "audio/mpeg", "width": None, "height": None,
                        "duration_ms": dur}
            if p[:3] == b"ID3":
                # tagged but the audio frame is beyond this payload
                return {"mime": "audio/mpeg", "width": None, "height": None,
                        "duration_ms": None}
        # Ogg container: parse the first page's identification packet
        # (Vorbis / Opus / Theora) for rate and dimensions, and the
        # LAST page's granule position for duration (Vorbis granules
        # are PCM samples; Opus granules tick at 48 kHz minus the
        # pre-skip; Theora granules need the keyframe-shift split, so
        # its duration stays None)
        if n >= 4 and p[:4] == b"OggS":
            nseg = p[26] if n >= 27 else 0
            o = 27 + nseg
            mime, rate, preskip = "application/ogg", None, 0
            w = h = None
            kind = None
            if p[o:o + 7] == b"\x01vorbis" and o + 16 <= n:
                kind, mime = "vorbis", "audio/ogg"
                (rate,) = struct.unpack("<I", p[o + 12:o + 16])
            elif p[o:o + 8] == b"OpusHead" and o + 12 <= n:
                kind, mime = "opus", "audio/ogg"
                (preskip,) = struct.unpack("<H", p[o + 10:o + 12])
                rate = 48000  # the Opus granule clock, always
            elif p[o:o + 7] == b"\x80theora" and o + 20 <= n:
                mime = "video/ogg"
                w = int.from_bytes(p[o + 14:o + 17], "big")
                h = int.from_bytes(p[o + 17:o + 20], "big")
            dur = None
            if kind is not None and rate:
                # FORWARD page walk (each page's length comes from its
                # lacing table), so payload bytes that merely contain
                # 'OggS' can never fake a page header; the last
                # complete page's granule position wins.  Only pages
                # carrying the IDENTIFIED stream's serial number count —
                # in a multiplexed (Theora+Vorbis) or chained file the
                # final page often belongs to another logical stream
                # whose granule clock ticks at a different rate, and
                # attributing its granulepos to this codec would yield a
                # wrong duration.
                ident_serial = p[14:18]
                i, last_gp = 0, None
                while i + 27 <= n and p[i:i + 4] == b"OggS" \
                        and p[i + 4] == 0:
                    nseg_i = p[i + 26]
                    lace_end = i + 27 + nseg_i
                    if lace_end > n:
                        break
                    body = sum(p[i + 27:lace_end])
                    if lace_end + body > n:
                        break
                    gp = struct.unpack("<q", p[i + 6:i + 14])[0]
                    if gp >= 0 and p[i + 14:i + 18] == ident_serial:
                        last_gp = gp
                    i = lace_end + body
                if last_gp is not None:
                    if kind == "opus":
                        last_gp = max(last_gp - preskip, 0)
                    dur = last_gp * 1000 // rate
            return {"mime": mime, "width": w, "height": h,
                    "duration_ms": dur}
        # WAV: RIFF/WAVE chunk list — 'fmt ' gives byte rate, 'data' gives
        # payload size; duration = data_bytes / byte_rate (integer ms)
        if n >= 12 and p[:4] == b"RIFF" and p[8:12] == b"WAVE":
            i, byte_rate, data_size = 12, None, None
            while i + 8 <= n:
                cid = p[i : i + 4]
                (clen,) = struct.unpack("<I", p[i + 4 : i + 8])
                if cid == b"fmt " and i + 20 <= n:
                    (byte_rate,) = struct.unpack("<I", p[i + 16 : i + 20])
                elif cid == b"data":
                    data_size = clen
                i += 8 + clen + (clen & 1)
            dur = (
                data_size * 1000 // byte_rate
                if byte_rate and data_size is not None
                else None
            )
            return {"mime": "audio/wav", "width": None, "height": None,
                    "duration_ms": dur}
        return None

    return parse_header


#: stdlib header parser (PNG/GIF/BMP/JPEG/WAV); closure-built so Spark
#: tasks ship it by value — see _make_header_parser
parse_media_header = _make_header_parser()


#: output contract for :func:`decode_pixels`
PIXELS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("px_min", T.IntegerType(), True),
        T.StructField("px_max", T.IntegerType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_mean", T.DoubleType(), True),
    ]
)


def _make_png_pixel_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib PNG SCANLINE decoder — full pixel decode, no
    third-party libraries: chunk walk -> zlib inflate of the IDAT stream
    (the zlib Adler-32 guards pixel-stream integrity) -> per-scanline
    unfilter (all five PNG filter types: None/Sub/Up/Average/Paeth).

    Supports 8- and 16-bit depths (16-bit rasters come back uint16;
    the byte-oriented filters just double their distance),
    non-interlaced AND Adam7-interlaced (each
    pass unfiltered as its own sub-image, scattered onto the pass
    grid); all five color types: gray / RGB / palette
    (PLTE-expanded; a tRNS chunk adds palette alpha -> RGBA) / gray+alpha /
    RGBA (alpha participates in the stats) — the formats a
    training-data thumbnail pipeline
    actually stores.  Chunk CRCs are NOT verified (tolerant reader; the
    inflate checksum still catches payload corruption).  Closure-built
    so Spark tasks ship it by value (see _make_header_parser).
    """
    import struct
    import zlib

    def decode_png(p: bytes) -> dict | None:
        if p is None or len(p) < 8 or p[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        w = h = depth = ctype = interlace = None
        idat, plte, trns = [], None, None
        off = 8
        while off + 8 <= len(p):
            (clen,) = struct.unpack(">I", p[off:off + 4])
            ctag = p[off + 4:off + 8]
            body = p[off + 8:off + 8 + clen]
            if ctag == b"IHDR" and len(body) >= 13:
                # len(body) (not clen) guards a truncated IHDR: a chunk
                # that declares 13+ bytes but is cut short by EOF would
                # otherwise raise struct.error/IndexError here
                w, h, depth, ctype = struct.unpack(">IIBB", body[:10])
                interlace = body[12]
            elif ctag == b"IDAT":
                idat.append(body)
            elif ctag == b"PLTE":
                plte = body
            elif ctag == b"tRNS":
                trns = body
            elif ctag == b"IEND":
                break
            off += 12 + clen  # len + tag + body + crc (crc not verified)
        if (not (w and h and idat) or depth not in (8, 16)
                or interlace not in (0, 1)):
            return None
        # bytes per pixel in the FILTERED stream; palette (ctype 3)
        # expands to RGB after unfiltering, alpha types keep their
        # alpha channel in the stats (documented contract)
        ch_map = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
        channels = ch_map.get(ctype)
        if channels is None or (ctype == 3 and (
                plte is None or len(plte) % 3 or not plte
                or depth != 8)):  # spec: palette depth is 1/2/4/8
            return None
        # PNG filters are BYTE-oriented at every depth: bpp is the
        # filter distance in bytes (2x at 16-bit samples)
        bpp = channels * (depth // 8)
        stride = w * bpp
        #: Adam7 pass grid (x0, y0, dx, dy) — PNG spec section 8.2
        ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                 (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
        if interlace == 0:
            passes = [(0, 0, 1, 1, w, h)]
        else:
            # each pass is its own filtered sub-image; empty passes
            # contribute NO bytes (not even filter bytes)
            passes = [
                (x0, y0, dx, dy,
                 (w - x0 + dx - 1) // dx, (h - y0 + dy - 1) // dy)
                for (x0, y0, dx, dy) in ADAM7
                if (w - x0 + dx - 1) // dx > 0
                and (h - y0 + dy - 1) // dy > 0
            ]
        expected = sum(hp * (1 + wp * bpp) for (*_g, wp, hp) in passes)
        try:
            # bound the inflate by the size IHDR promises: a crafted
            # tiny-dimensions PNG with a multi-GB compressed IDAT must
            # not expand fully into executor memory (decompression bomb)
            dec = zlib.decompressobj()
            raw = dec.decompress(b"".join(idat), expected + 1)
        except zlib.error:
            # corrupt/truncated pixel stream: NULL stats, never a task
            # failure (decode_pixels keeps the row so coverage is
            # auditable)
            return None
        if len(raw) != expected or not dec.eof:
            return None

        import numpy as np

        def unfilter(block: bytes, hh: int, ss: int):
            """Undo the per-scanline filters of one (sub-)image of hh
            rows with ss data bytes each; None on a bad filter type."""
            buf = np.frombuffer(block, dtype=np.uint8).reshape(hh, ss + 1)
            fts = buf[:, 0]
            if fts.max(initial=0) > 4:
                return None
            rows = buf[:, 1:]
            if not fts.any():
                # filter-None image: fully vectorized, no per-row pass
                return rows
            # vectorized where the filter allows (None is a no-op; Up is
            # a running column sum over consecutive Up rows; Sub is a
            # per-channel cumulative sum along x) — per-byte Python only
            # for Average/Paeth, whose predictor mixes both axes
            out_px = np.empty_like(rows)
            prev = np.zeros(ss, dtype=np.uint8)
            for r in range(hh):
                ft = fts[r]
                row = rows[r]
                if ft == 0:
                    out = row.copy()
                elif ft == 2:  # Up
                    out = row + prev  # uint8 wraps mod 256
                elif ft == 1:  # Sub: cumsum per channel phase
                    out = row.copy()
                    for p in range(bpp):
                        np.cumsum(
                            out[p::bpp], dtype=np.uint8, out=out[p::bpp]
                        )
                else:  # Average / Paeth: sequential in both axes —
                    # run on Python lists (numpy scalar indexing costs
                    # ~10x a list index; this is the libpng-default
                    # Paeth hot path on real-world PNGs).  The first
                    # bpp bytes have no left/up-left neighbor: Paeth's
                    # predictor there is always the UP byte (a=c=0 =>
                    # pb<=pc), Average's is up>>1 — both peeled out of
                    # the main loop so it runs branch-free.
                    rl = row.tolist()
                    pl = prev.tolist()
                    ol = [0] * ss
                    lead = bpp if bpp < ss else ss
                    if ft == 3:
                        for i in range(lead):
                            ol[i] = (rl[i] + (pl[i] >> 1)) & 0xFF
                        for i in range(lead, ss):
                            ol[i] = (
                                rl[i] + ((ol[i - bpp] + pl[i]) >> 1)
                            ) & 0xFF
                    else:
                        for i in range(lead):
                            ol[i] = (rl[i] + pl[i]) & 0xFF
                        for i in range(lead, ss):
                            a = ol[i - bpp]
                            b = pl[i]
                            c = pl[i - bpp]
                            pp = a + b - c
                            pa, pb, pc = (
                                abs(pp - a), abs(pp - b), abs(pp - c)
                            )
                            ol[i] = (rl[i] + (
                                a if (pa <= pb and pa <= pc)
                                else (b if pb <= pc else c)
                            )) & 0xFF
                    out = np.array(ol, dtype=np.uint8)
                out_px[r] = out
                prev = out
            return out_px

        if interlace == 0:
            px = unfilter(raw, h, stride)
            if px is None:
                return None
        else:
            # Adam7: unfilter each pass independently, scatter its
            # pixels onto the (dy, dx) grid anchored at (y0, x0)
            full = np.zeros((h, w, bpp), dtype=np.uint8)
            pos = 0
            for (x0, y0, dx, dy, wp, hp) in passes:
                size = hp * (1 + wp * bpp)
                sub = unfilter(raw[pos:pos + size], hp, wp * bpp)
                if sub is None:
                    return None
                full[y0::dy, x0::dx] = sub.reshape(hp, wp, bpp)
                pos += size
            px = full.reshape(h, stride)
        if ctype == 3:
            tab = np.frombuffer(plte, dtype=np.uint8)
            if int(px.max(initial=0)) * 3 + 3 > tab.size:
                return None  # index beyond the palette: corrupt
            rgb = tab.reshape(-1, 3)
            if trns is not None:
                # palette alpha: tRNS lists alphas for the FIRST
                # len(trns) entries, the rest are opaque -> RGBA
                if len(trns) > rgb.shape[0]:
                    return None
                alpha = np.full(rgb.shape[0], 255, dtype=np.uint8)
                alpha[:len(trns)] = np.frombuffer(trns, dtype=np.uint8)
                rgb = np.concatenate([rgb, alpha[:, None]], axis=1)
            nch = rgb.shape[1]
            pix = rgb[px.reshape(-1)].reshape(h, w, nch)
            channels = nch
        elif depth == 16:
            # big-endian sample pairs -> uint16 raster
            b2 = px.reshape(h, w, channels, 2).astype(np.uint16)
            pix = (b2[..., 0] << 8) | b2[..., 1]
        else:
            pix = px.reshape(h, w, channels)
        n_px = w * h
        total = int(pix.sum(dtype=np.int64))
        return {
            "width": w, "height": h, "channels": channels,
            "n_pixels": n_px,
            "px_min": int(pix.min()), "px_max": int(pix.max()),
            "px_sum": total,
            "px_mean": total / (n_px * channels),
            # full decoded raster, top-down (h, w, channels), uint8
            # (uint16 at depth 16) — the input contract of
            # resize_pixels and friends; stats consumers ignore it
            # (same in-memory buffer, no extra cost)
            "pixels": pix,
        }

    return decode_png


#: stdlib PNG pixel decoder; same object for unit tests
decode_png_pixels = _make_png_pixel_decoder()


def _make_gif_pixel_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib GIF PIXEL decoder — a full LZW decompressor, no
    third-party libraries: logical-screen walk -> global/local color
    table -> extension skip -> first image descriptor -> variable-width
    LSB-first LZW (clear/end codes, dictionary growth to the 4096-entry
    cap with GIF's deferred-clear behavior) -> palette lookup to RGB.

    Supports single-frame reads incl. Appendix-E interlacing (the first frame of an
    animation — the shape a training-data thumbnail pipeline stores).
    Interlaced images and structurally corrupt streams (truncated
    sub-blocks, codes beyond the dictionary, indices beyond the palette)
    yield None — NULL stats, never task failures.  Closure-built so
    Spark tasks ship it by value (see _make_header_parser).
    """
    import struct

    def decode_gif(p: bytes) -> dict | None:
        if p is None or len(p) < 13 or p[:6] not in (b"GIF87a", b"GIF89a"):
            return None
        _sw, _sh, packed = struct.unpack("<HHB", p[6:11])
        off = 13
        gct = None
        if packed & 0x80:
            n = 2 << (packed & 0x07)
            if off + 3 * n > len(p):
                return None
            gct = p[off:off + 3 * n]
            off += 3 * n
        # walk to the FIRST image descriptor, skipping extension blocks
        while off < len(p) and p[off] == 0x21:
            off += 2  # introducer + label
            while off < len(p) and p[off] != 0:
                off += 1 + p[off]
            off += 1  # block terminator
        if off + 10 > len(p) or p[off] != 0x2C:
            return None  # trailer / unknown block before any image
        w, h, ipacked = struct.unpack("<HHB", p[off + 5:off + 10])
        off += 10
        interlaced = bool(ipacked & 0x40)
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            if off + 3 * n > len(p):
                return None
            table = p[off:off + 3 * n]
            off += 3 * n
        if table is None or w == 0 or h == 0 or off >= len(p):
            return None
        min_code = p[off]
        off += 1
        if not 2 <= min_code <= 8:
            return None
        chunks = []
        while True:
            if off >= len(p):
                return None  # missing block terminator: truncated
            ln = p[off]
            off += 1
            if ln == 0:
                break
            if off + ln > len(p):
                return None
            chunks.append(p[off:off + ln])
            off += ln
        data = b"".join(chunks)

        clear = 1 << min_code
        end = clear + 1
        n_px = w * h
        out = bytearray()
        code_size = min_code + 1
        next_code = end + 1
        # flat 4096-slot table (a list index beats a dict probe in the
        # per-code hot loop); slots < clear are the root single-byte
        # strings, slots beyond next_code are stale from before the
        # last clear and guarded by the next_code bound
        strings: list = [bytes([i]) for i in range(clear)] + [b""] * (
            4096 - clear
        )
        prev = None
        dlen = len(data)
        acc = nbits = pos = 0
        while len(out) < n_px:
            while nbits < code_size:
                if pos >= dlen:
                    return None  # truncated LZW stream
                acc |= data[pos] << nbits
                pos += 1
                nbits += 8
            code = acc & ((1 << code_size) - 1)
            acc >>= code_size
            nbits -= code_size
            if code < clear:
                entry = strings[code]
            elif code == clear:
                code_size = min_code + 1
                next_code = end + 1
                prev = None
                continue
            elif code == end:
                break
            elif code < next_code:
                entry = strings[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]  # the kwkwk case
            else:
                return None  # code beyond the dictionary: corrupt
            out += entry
            if prev is not None and next_code < 4096:
                strings[next_code] = prev + entry[:1]
                next_code += 1
                # GIF (unlike TIFF) grows the width AFTER the last code
                # of the current width is assigned, and holds at 12 bits
                # until an explicit clear (deferred clear)
                if next_code == (1 << code_size) and code_size < 12:
                    code_size += 1
            prev = entry
        if len(out) < n_px:
            return None

        import numpy as np

        idx = np.frombuffer(bytes(out[:n_px]), dtype=np.uint8)
        if interlaced:
            # GIF89a appendix E: rows are stored in four passes
            # (0,8,16.. / 4,12.. / 2,6,10.. / 1,3,5..); undo the pass
            # order so the raster is top-down
            order = (list(range(0, h, 8)) + list(range(4, h, 8))
                     + list(range(2, h, 4)) + list(range(1, h, 2)))
            deint = np.empty((h, w), dtype=np.uint8)
            deint[order] = idx.reshape(h, w)
            idx = deint.reshape(-1)
        tab = np.frombuffer(table, dtype=np.uint8)
        if int(idx.max(initial=0)) * 3 + 3 > tab.size:
            return None  # index beyond the palette
        rgb = tab.reshape(-1, 3)[idx]
        total = int(rgb.sum(dtype=np.int64))
        return {
            "width": int(w), "height": int(h), "channels": 3,
            "n_pixels": n_px,
            "px_min": int(rgb.min()), "px_max": int(rgb.max()),
            "px_sum": total, "px_mean": total / (n_px * 3),
            # top-down RGB raster (palette-expanded), resize input
            "pixels": rgb.reshape(h, w, 3),
        }

    return decode_gif


#: stdlib GIF LZW pixel decoder; same object for unit tests
decode_gif_pixels = _make_gif_pixel_decoder()


def _make_bmp_pixel_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib BMP PIXEL decoder: BITMAPFILEHEADER +
    BITMAPINFOHEADER(-or-later) walk, uncompressed (BI_RGB) pixel
    arrays at 8 bits (palettized: BGRA-quad color table after the info
    header), 24 bits, and 32 bits (BGRX, the pad byte excluded from
    stats), 4-byte row stride, bottom-up or top-down (negative
    height).  The whole pixel pass is vectorized numpy views + one
    palette gather — no per-byte Python.  RLE/bitfields/1-4-16-bit
    variants yield None (NULL stats).  Closure-built so Spark tasks
    ship it by value (see _make_header_parser).
    """
    import struct

    def decode_bmp(p: bytes) -> dict | None:
        if p is None or len(p) < 54 or p[:2] != b"BM":
            return None
        (data_off,) = struct.unpack("<I", p[10:14])
        (hdr_size,) = struct.unpack("<I", p[14:18])
        if hdr_size < 40:
            return None  # BITMAPCOREHEADER: out of scope
        w, h_raw = struct.unpack("<ii", p[18:26])
        planes, bpp = struct.unpack("<HH", p[26:30])
        comp, _isz, _xp, _yp, clr_used = struct.unpack("<IIiiI", p[30:50])
        if (w <= 0 or h_raw == 0 or planes != 1
                or bpp not in (8, 24, 32) or comp != 0):
            return None
        h = abs(h_raw)  # negative height = top-down; stats are orderless
        stride = (w * bpp // 8 + 3) & ~3
        need = stride * h
        if data_off + need > len(p) or data_off < 14 + hdr_size:
            return None

        import numpy as np

        buf = np.frombuffer(p, dtype=np.uint8, count=need, offset=data_off)
        if bpp == 8:
            n_pal = clr_used or 256
            pal_off = 14 + hdr_size
            if pal_off + 4 * n_pal > data_off:
                return None  # color table overruns the pixel array
            quads = np.frombuffer(
                p, dtype=np.uint8, count=4 * n_pal, offset=pal_off
            ).reshape(n_pal, 4)
            idx = buf.reshape(h, stride)[:, :w]
            if int(idx.max(initial=0)) >= n_pal:
                return None  # index beyond the color table: corrupt
            rows = quads[:, :3][idx.reshape(-1)].reshape(h, w * 3)
        else:
            bypp = bpp // 8
            rows = buf.reshape(h, stride)[:, : bypp * w]
            if bpp == 32:
                # BGRX quads: drop the pad byte from stats and raster
                rows = np.ascontiguousarray(
                    rows.reshape(h, w, 4)[:, :, :3]).reshape(h, w * 3)
        total = int(rows.sum(dtype=np.int64))
        n_px = w * h
        pix = rows.reshape(h, w, 3)
        if h_raw > 0:
            pix = pix[::-1]          # bottom-up storage -> top-down raster
        return {
            "width": int(w), "height": h, "channels": 3,
            "n_pixels": n_px,
            "px_min": int(rows.min()), "px_max": int(rows.max()),
            "px_sum": total, "px_mean": total / (n_px * 3),
            # top-down raster in RGB order (BMP stores BGR), resize input
            "pixels": pix[:, :, ::-1],
        }

    return decode_bmp


#: stdlib BMP pixel decoder; same object for unit tests
decode_bmp_pixels = _make_bmp_pixel_decoder()


_JPEG_IDCT_B = None  # cached orthonormal DCT basis (built on first use)


def _jpeg_idct_f64(coef):
    """Reference 8x8 inverse DCT (JPEG normalization), float64: the
    separable orthonormal DCT-III as two matrix products.  ``coef`` is
    (..., 8, 8) dequantized coefficients in natural (row, col) order;
    returns float64 samples BEFORE the +128 level shift.  Exposed so
    tests can verify it against an independently formulated basis.

    Evaluated as two broadcast ``matmul`` calls (B^T @ coef @ B) —
    BLAS-batched, ~10x the general einsum contraction this used to be,
    which profiled as 45% of a sparse-payload decode."""
    import numpy as np

    global _JPEG_IDCT_B
    if _JPEG_IDCT_B is None:
        k = np.arange(8)
        # orthonormal DCT basis: B[u, x] = C(u)/2 * cos((2x+1)u*pi/16)
        b = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16) / 2.0
        b[0, :] *= 1.0 / np.sqrt(2.0)
        _JPEG_IDCT_B = b
    b = _JPEG_IDCT_B
    return np.matmul(b.T, np.matmul(coef, b))


class _JpegBits:
    """Entropy-segment bit reader: 0xFF00 byte unstuffing, restart
    markers surfaced to the caller, any other marker = end of data.

    Throughput design (round 11): the constructor makes ONE byte-level
    pass over the entropy region (``bytes.find(0xFF)`` — C-speed, one
    Python iteration per 0xFF occurrence, not per byte), removing
    stuffed zeros and splitting the stream into restart segments.  The
    hot loop then runs a plain accumulator over clean bytes with no
    per-bit marker/stuffing checks — ``peek``/``skip`` are O(1) and
    ``receive(n)`` costs one peek instead of n bit reads.  The classic
    table-driven decoder structure (unstuff once, accumulator, byte
    refill) is the public-domain shape every fast JPEG decoder uses;
    consuming past the real data (into the zero padding the reader
    synthesizes for ``peek``) raises EOFError exactly where the old
    per-bit reader hit end-of-data, so corrupt streams still surface
    as NULL stats, never garbage pixels."""

    __slots__ = ("segs", "seg_i", "buf", "buflen", "bytepos",
                 "acc", "nacc", "pad")

    def __init__(self, data: bytes, pos: int):
        # Split [pos:] into unstuffed segments at restart markers; any
        # other marker (or end of data) terminates the scan.
        segs = []       # (unstuffed bytes, followed_by_rst)
        chunks: list = []
        i = start = pos
        n = len(data)
        while True:
            j = data.find(b"\xff", i)
            if j < 0 or j + 1 >= n:
                # no marker (or a lone trailing 0xFF): data runs out
                chunks.append(data[start:(n if j < 0 else j)])
                segs.append((b"".join(chunks), False))
                break
            nxt = data[j + 1]
            if nxt == 0x00:
                chunks.append(data[start:j + 1])  # keep FF, drop 00
                i = start = j + 2
            elif 0xD0 <= nxt <= 0xD7:
                chunks.append(data[start:j])
                segs.append((b"".join(chunks), True))
                chunks = []
                i = start = j + 2
            else:
                chunks.append(data[start:j])
                segs.append((b"".join(chunks), False))
                break
        self.segs = segs
        self.seg_i = 0
        self._load(0)

    def _load(self, i: int) -> None:
        self.seg_i = i
        self.buf = self.segs[i][0]
        self.buflen = len(self.buf)
        self.bytepos = 0
        self.acc = 0
        self.nacc = 0
        self.pad = 0  # synthesized zero bits currently in acc

    def peek(self, n: int) -> int:
        if self.nacc < n:
            acc, nacc, bp, buf = self.acc, self.nacc, self.bytepos, self.buf
            blen, pad = self.buflen, self.pad
            while nacc < n:
                if bp < blen:
                    acc = (acc << 8) | buf[bp]
                    bp += 1
                else:
                    acc <<= 8
                    pad += 8
                nacc += 8
            self.acc, self.nacc, self.bytepos, self.pad = acc, nacc, bp, pad
        return (self.acc >> (self.nacc - n)) & ((1 << n) - 1)

    def skip(self, n: int) -> None:
        nacc = self.nacc - n
        self.nacc = nacc
        self.acc &= (1 << nacc) - 1
        if nacc < self.pad:
            raise EOFError  # consumed synthesized padding: data ran out

    def read_bit(self) -> int:
        v = self.peek(1)
        self.skip(1)
        return v

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        v = self.peek(n)
        self.skip(n)
        return v

    def restart(self) -> bool:
        """At a restart marker: consume it and realign.  True if one
        was consumed.  In segment terms: drop the partial byte, and a
        valid stream is then EXACTLY at the end of a segment whose
        terminator was a RST marker — anything else means the marker
        is not where the decoder expects it (corrupt)."""
        self.skip(self.nacc % 8)  # byte-align (pads are %8-preserving)
        remaining = (self.nacc - self.pad) + 8 * (self.buflen - self.bytepos)
        if remaining != 0:
            return False
        if not self.segs[self.seg_i][1] or self.seg_i + 1 >= len(self.segs):
            return False
        self._load(self.seg_i + 1)
        return True


def _make_jpeg_pixel_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib JPEG pixel decoder — real entropy decode, no
    third-party libraries: marker walk (DQT / SOF0 / SOF2 / DHT / DRI
    / SOS), canonical Huffman tables from DHT, per-MCU DC-predictor +
    AC run-length decode with byte unstuffing and restart-marker
    resets, dequantize + dezigzag, vectorized float64 IDCT
    (:func:`_jpeg_idct_f64`), chroma upsampling (sample replication),
    and the JFIF YCbCr->RGB transform with round + clamp.

    Scope: baseline sequential DCT (SOF0) AND progressive DCT (SOF2 —
    multi-scan walk with spectral selection and successive
    approximation: interleaved/non-interleaved DC first + DC
    refinement bits, per-component AC band scans with EOB-run
    accounting, and the G.1.2.3 AC refinement algorithm with
    correction bits; progressive decode recovers the quantized
    coefficients EXACTLY, so the pixel pipeline is shared with
    baseline), 8-bit, 1 or 3 components, any sampling factors.
    Arithmetic coding, 12-bit, and hierarchical streams return None —
    NULL stats, never task failures (every structural surprise is
    caught).  Closure-built so Spark tasks ship it by value."""
    import struct

    ZIGZAG = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]

    def huff_table(counts, values):
        """Canonical Huffman as a two-level lookup (the classic
        libjpeg-style structure): an 8-bit first-level table resolving
        every code of length <= 8 in ONE peek (real DHTs put the
        frequent symbols there), plus a (length, code) dict for the
        9..16-bit tail.  First-level entries pack (value << 4 | length)
        so the hot path is one list index + two shifts; -1 = no code
        of length <= 8 has this prefix.  Oversubscribed DHT counts can
        canonically assign code >= 2^len — unreachable by a prefix
        reader — so those entries are skipped, matching the old
        bit-walking reader which could never accumulate them."""
        lut = [-1] * 256
        longd = {}
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                if code < (1 << ln):
                    if ln <= 8:
                        base = code << (8 - ln)
                        packed = (values[k] << 4) | ln
                        for i in range(base, base + (1 << (8 - ln))):
                            lut[i] = packed
                    else:
                        longd[(ln, code)] = values[k]
                code += 1
                k += 1
            code <<= 1
        return lut, longd

    def huff_decode(br, table):
        lut, longd = table
        e = lut[br.peek(8)]
        if e >= 0:
            br.skip(e & 15)
            return e >> 4
        code = br.peek(16)
        for ln in range(9, 17):
            v = longd.get((ln, code >> (16 - ln)))
            if v is not None:
                br.skip(ln)
                return v
        raise EOFError  # not a valid code

    def extend(v, t):
        # JPEG EXTEND: t-bit magnitude to signed value
        return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1

    def _jpeg_entropy_end(p, pos):
        """First offset >= pos holding a non-RST, non-stuffed marker
        (the end of a scan's entropy segment)."""
        i, n = pos, len(p)
        while i + 1 < n:
            if p[i] == 0xFF:
                b = p[i + 1]
                if b == 0x00 or 0xD0 <= b <= 0xD7:
                    i += 2
                    continue
                return i
            i += 1
        return n

    def ac_first(br, act, blk, ss, se, al, eobrun):
        """Progressive AC first scan (Ah=0) for one block: run-length
        + EOB-run decode into the zigzag coefficient vector (values
        point-transformed by << Al).  Returns the new EOB run, or None
        on corrupt structure.  Same local-accumulator treatment as
        :func:`ac_refine` — identical bit sequence and pad rules to
        the method-call reader."""
        if eobrun > 0:
            return eobrun - 1
        k = ss
        lut, longd = act
        acc = br.acc
        nacc = br.nacc
        pad = br.pad
        buf = br.buf
        blen = br.buflen
        bp = br.bytepos
        try:
            while k <= se:
                while nacc < 16:
                    if bp < blen:
                        acc = (acc << 8) | buf[bp]
                        bp += 1
                    else:
                        acc <<= 8
                        pad += 8
                    nacc += 8
                e = lut[(acc >> (nacc - 8)) & 0xFF]
                if e >= 0:
                    ln = e & 15
                    rs = e >> 4
                else:
                    code = (acc >> (nacc - 16)) & 0xFFFF
                    for ln in range(9, 17):
                        rs = longd.get((ln, code >> (16 - ln)))
                        if rs is not None:
                            break
                    else:
                        raise EOFError  # not a valid code
                nacc -= ln
                acc &= (1 << nacc) - 1
                if nacc < pad:
                    raise EOFError
                r, s = rs >> 4, rs & 0x0F
                if s == 0:
                    if r == 15:
                        k += 16  # ZRL
                        continue
                    eobrun = (1 << r) - 1  # run includes this block
                    if r:
                        while nacc < r:
                            if bp < blen:
                                acc = (acc << 8) | buf[bp]
                                bp += 1
                            else:
                                acc <<= 8
                                pad += 8
                            nacc += 8
                        nacc -= r
                        eobrun += acc >> nacc
                        acc &= (1 << nacc) - 1
                        if nacc < pad:
                            raise EOFError
                    return eobrun
                k += r
                if k > se:
                    return None
                while nacc < s:
                    if bp < blen:
                        acc = (acc << 8) | buf[bp]
                        bp += 1
                    else:
                        acc <<= 8
                        pad += 8
                    nacc += 8
                nacc -= s
                v = acc >> nacc
                acc &= (1 << nacc) - 1
                if nacc < pad:
                    raise EOFError
                blk[k] = (v if v >= (1 << (s - 1))
                          else v - (1 << s) + 1) << al
                k += 1
            return 0
        finally:
            br.acc = acc
            br.nacc = nacc
            br.pad = pad
            br.bytepos = bp

    def ac_refine(br, act, blk, ss, se, al, eobrun):
        """Progressive AC refinement (Ah>0, G.1.2.3): newly-nonzero
        coefficients arrive as +-1<<Al runs, every already-nonzero
        coefficient in the band consumes a correction bit.

        Round-12 treatment (the MP3/Vorbis reader discipline): the
        whole scan-side walk — Huffman lookups via the two-level table
        AND every correction/sign/EOB bit — runs on LOCAL copies of
        the reader's accumulator state, synced back on exit.  The bit
        sequence consumed is identical to the method-call version
        (same refill and pad rules), so accepted streams decode
        bit-identically and padding consumption raises the same
        EOFError."""
        p1 = 1 << al
        m1 = -p1
        k = ss
        lut, longd = act
        # local mirror of _JpegBits state (peek/skip/receive inlined)
        acc = br.acc
        nacc = br.nacc
        pad = br.pad
        buf = br.buf
        blen = br.buflen
        bp = br.bytepos
        try:
            if eobrun == 0:
                while k <= se:
                    # --- inlined huff_decode (two-level DHT table) ---
                    while nacc < 16:
                        if bp < blen:
                            acc = (acc << 8) | buf[bp]
                            bp += 1
                        else:
                            acc <<= 8
                            pad += 8
                        nacc += 8
                    e = lut[(acc >> (nacc - 8)) & 0xFF]
                    if e >= 0:
                        ln = e & 15
                        rs = e >> 4
                    else:
                        code = (acc >> (nacc - 16)) & 0xFFFF
                        for ln in range(9, 17):
                            rs = longd.get((ln, code >> (16 - ln)))
                            if rs is not None:
                                break
                        else:
                            raise EOFError  # not a valid code
                    nacc -= ln
                    acc &= (1 << nacc) - 1
                    if nacc < pad:
                        raise EOFError
                    r, s = rs >> 4, rs & 0x0F
                    sval = 0
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                while nacc < r:
                                    if bp < blen:
                                        acc = (acc << 8) | buf[bp]
                                        bp += 1
                                    else:
                                        acc <<= 8
                                        pad += 8
                                    nacc += 8
                                nacc -= r
                                eobrun += acc >> nacc
                                acc &= (1 << nacc) - 1
                                if nacc < pad:
                                    raise EOFError
                            break
                        # r == 15 (ZRL): skip 16 zero-history positions
                    else:
                        if s != 1:
                            return None
                        if not nacc:
                            if bp < blen:
                                acc = buf[bp]
                                bp += 1
                            else:
                                pad += 8
                            nacc = 8
                        nacc -= 1
                        sval = p1 if (acc >> nacc) & 1 else m1
                        acc &= (1 << nacc) - 1
                        if nacc < pad:
                            raise EOFError
                    while k <= se:
                        c = blk[k]
                        if c != 0:
                            # a RUN of consecutive nonzero-history
                            # coefficients consumes one correction bit
                            # each, unconditionally — count it from the
                            # block alone, pull the bits in one refill
                            j = k + 1
                            while j <= se and blk[j] != 0:
                                j += 1
                            nb = j - k
                            while nacc < nb:
                                if bp < blen:
                                    acc = (acc << 8) | buf[bp]
                                    bp += 1
                                else:
                                    acc <<= 8
                                    pad += 8
                                nacc += 8
                            nacc -= nb
                            bits = acc >> nacc
                            acc &= (1 << nacc) - 1
                            if nacc < pad:
                                raise EOFError
                            i = nb - 1
                            while k < j:
                                if (bits >> i) & 1:
                                    c = blk[k]
                                    if (c & p1) == 0:
                                        blk[k] = c + (p1 if c >= 0
                                                      else m1)
                                i -= 1
                                k += 1
                        else:
                            if r == 0:
                                if sval:
                                    blk[k] = sval
                                k += 1
                                break
                            r -= 1
                            k += 1
            if eobrun > 0:
                while k <= se:
                    if blk[k] != 0:
                        j = k + 1
                        while j <= se and blk[j] != 0:
                            j += 1
                        nb = j - k
                        while nacc < nb:
                            if bp < blen:
                                acc = (acc << 8) | buf[bp]
                                bp += 1
                            else:
                                acc <<= 8
                                pad += 8
                            nacc += 8
                        nacc -= nb
                        bits = acc >> nacc
                        acc &= (1 << nacc) - 1
                        if nacc < pad:
                            raise EOFError
                        i = nb - 1
                        while k < j:
                            if (bits >> i) & 1:
                                c = blk[k]
                                if (c & p1) == 0:
                                    blk[k] = c + (p1 if c >= 0 else m1)
                            i -= 1
                            k += 1
                    else:
                        k += 1
                eobrun -= 1
            return eobrun
        finally:
            br.acc = acc
            br.nacc = nacc
            br.pad = pad
            br.bytepos = bp

    def decode_progressive(p, h, w, comps, qt, scans):
        """Run every progressive scan against zigzag-order coefficient
        accumulators, then dequantize + dezigzag.  Progressive decode
        is lossless w.r.t. the quantized coefficients, so the caller
        reuses the baseline pixel pipeline."""
        import numpy as np

        hmax = max(c[1] for c in comps)
        vmax = max(c[2] for c in comps)
        if hmax < 1 or vmax < 1 or any(
            c[1] < 1 or c[2] < 1 for c in comps
        ):
            return None
        mcux = -(-w // (8 * hmax))
        mcuy = -(-h // (8 * vmax))
        coefs = [
            np.zeros((mcuy * c[2], mcux * c[1], 64), dtype=np.int32)
            for c in comps
        ]
        # true (non-MCU-padded) block grids for non-interleaved scans
        # (B.2.3): ceil(ceil(dim * factor / max_factor) / 8)
        cdims = []
        for cid, ch, cv, tq in comps:
            cw = -(-(w * ch) // hmax)
            chh = -(-(h * cv) // vmax)
            cdims.append((-(-cw // 8), -(-chh // 8)))
        for scan, ss, se, ah, al, data_off, dri, dct_s, act_s in scans:
            idxs = []
            for cs, td, ta in scan:
                idx = next(
                    (i for i, c in enumerate(comps) if c[0] == cs), None
                )
                if idx is None or comps[idx][3] not in qt:
                    return None
                idxs.append((idx, td, ta))
            br = _JpegBits(p, data_off)
            eobrun = 0
            if ss == 0:
                if se != 0:
                    return None  # DC scans carry only coefficient 0
                first = ah == 0
                tab_by_idx = {}
                for idx, td, ta in idxs:
                    if first:
                        if td not in dct_s:
                            return None
                        tab_by_idx[idx] = dct_s[td]
                    else:
                        tab_by_idx[idx] = None  # raw bits, no table
                if len(idxs) == 1:
                    # non-interleaved: raster over component blocks
                    idx = idxs[0][0]
                    cw, chh = cdims[idx]
                    mcu_units = [
                        [(idx, by, bx)]
                        for by in range(chh) for bx in range(cw)
                    ]
                else:
                    mcu_units = []
                    for my in range(mcuy):
                        for mx in range(mcux):
                            mcu = []
                            for idx, _td, _ta in idxs:
                                _, ch_, cv_, _q = comps[idx]
                                for by in range(cv_):
                                    for bx in range(ch_):
                                        mcu.append(
                                            (idx, my * cv_ + by,
                                             mx * ch_ + bx)
                                        )
                            mcu_units.append(mcu)
                pred = {idx: 0 for idx, _td, _ta in idxs}
                done = 0
                for mcu in mcu_units:
                    if dri and done and done % dri == 0:
                        if not br.restart():
                            return None
                        pred = {k: 0 for k in pred}
                    for idx, by, bx in mcu:
                        c = coefs[idx]
                        if first:
                            t = huff_decode(br, tab_by_idx[idx])
                            if t > 11:
                                return None
                            pred[idx] += extend(br.receive(t), t)
                            c[by, bx, 0] = pred[idx] << al
                        else:
                            if br.read_bit():
                                c[by, bx, 0] |= 1 << al
                    done += 1
            else:
                if len(idxs) != 1 or se > 63 or ss > se:
                    return None  # AC scans are single-component
                idx, td, ta = idxs[0]
                if ta not in act_s:
                    return None
                act = act_s[ta]
                cw, chh = cdims[idx]
                carr = coefs[idx]
                # scalar loops run on Python lists (numpy element
                # access is ~10x a list index); the WHOLE plane
                # converts in one C-level tolist per scan and writes
                # back once — round-11 converted per block, which cost
                # a numpy round-trip per (block, scan)
                ncols = carr.shape[1]
                blocks = carr.reshape(-1, 64).tolist()
                done = 0
                for by in range(chh):
                    row = by * ncols
                    for bx in range(cw):
                        if dri and done and done % dri == 0:
                            if not br.restart():
                                return None
                            eobrun = 0
                        if ah == 0 and eobrun > 0:
                            eobrun -= 1
                        else:
                            blk = blocks[row + bx]
                            if ah == 0:
                                eobrun = ac_first(
                                    br, act, blk, ss, se, al, 0)
                            else:
                                eobrun = ac_refine(
                                    br, act, blk, ss, se, al, eobrun)
                            if eobrun is None:
                                return None
                        done += 1
                carr[:] = np.asarray(
                    blocks, dtype=np.int32).reshape(carr.shape)
        planes = []
        zz = np.array(ZIGZAG)
        for i, (cid, ch, cv, tq) in enumerate(comps):
            q = np.array(qt[tq], dtype=np.int32)
            by, bx = coefs[i].shape[:2]
            nat = np.zeros((by, bx, 64), dtype=np.int32)
            nat[..., zz] = coefs[i] * q
            planes.append(nat.reshape(by, bx, 8, 8))
        return planes, hmax, vmax

    def finish(planes, comps, hmax, vmax, h, w):
        """Shared pixel pipeline: IDCT, +128 shift, upsample, color
        transform, stats.  Both the baseline and progressive paths end
        here (progressive recovers the same quantized coefficients)."""
        import numpy as np

        out_planes = []
        for i, (cid, ch, cv, tq) in enumerate(comps):
            px = _jpeg_idct_f64(planes[i].astype(np.float64)) + 128.0
            by, bx = planes[i].shape[:2]
            img = px.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
            # replicate to full-res sampling grid, crop to (h, w)
            ry, rx = vmax // cv, hmax // ch
            if vmax % cv or hmax % ch:
                return None
            img = np.repeat(np.repeat(img, ry, axis=0), rx, axis=1)
            out_planes.append(img[:h, :w])
        if len(out_planes) == 1:
            rgb = np.clip(np.round(out_planes[0]), 0, 255)
            channels = 1
        else:
            y, cb, cr = out_planes
            r = y + 1.402 * (cr - 128.0)
            g = (
                y - 0.3441363 * (cb - 128.0)
                - 0.71413636 * (cr - 128.0)
            )
            b = y + 1.772 * (cb - 128.0)
            rgb = np.clip(
                np.round(np.stack([r, g, b], axis=-1)), 0, 255
            )
            channels = 3
        arr = rgb.astype(np.int64)
        total = int(arr.sum())
        n_px = h * w
        return {
            "width": int(w), "height": int(h), "channels": channels,
            "n_pixels": n_px,
            "px_min": int(arr.min()), "px_max": int(arr.max()),
            "px_sum": total, "px_mean": total / (n_px * channels),
            # top-down raster (h, w, channels) uint8, resize input
            "pixels": arr.astype(np.uint8).reshape(h, w, channels),
        }

    def decode_jpeg(p: bytes) -> dict | None:
        import numpy as np

        try:
            if p is None or len(p) < 4 or p[:2] != b"\xff\xd8":
                return None
            qt: dict = {}
            dc_t: dict = {}
            ac_t: dict = {}
            sof = None
            dri = 0
            progressive = False
            prog_scans: list = []
            off = 2
            while off + 4 <= len(p):
                if p[off] != 0xFF:
                    return None
                m = p[off + 1]
                if m == 0xFF:
                    off += 1  # fill byte (B.1.1.2): pad before a marker
                    continue
                if m == 0xD8 or 0xD0 <= m <= 0xD7 or m == 0x01:
                    off += 2
                    continue
                if m == 0xD9:
                    if progressive and prog_scans:
                        break  # EOI closes the multi-scan stream
                    return None  # EOI before any scan
                (seglen,) = struct.unpack(">H", p[off + 2:off + 4])
                seg = p[off + 4:off + 2 + seglen]
                if len(seg) != seglen - 2:
                    return None
                if m == 0xDB:  # DQT
                    i = 0
                    while i < len(seg):
                        prec, tid = seg[i] >> 4, seg[i] & 0x0F
                        i += 1
                        if prec == 0:
                            tbl = list(seg[i:i + 64])
                            i += 64
                        else:
                            tbl = [
                                struct.unpack(">H", seg[i + 2 * j:i + 2 * j + 2])[0]
                                for j in range(64)
                            ]
                            i += 128
                        if len(tbl) != 64:
                            return None
                        qt[tid] = tbl
                elif m == 0xC4:  # DHT
                    i = 0
                    while i < len(seg):
                        cls, tid = seg[i] >> 4, seg[i] & 0x0F
                        counts = list(seg[i + 1:i + 17])
                        n = sum(counts)
                        values = list(seg[i + 17:i + 17 + n])
                        if len(counts) != 16 or len(values) != n:
                            return None
                        (dc_t if cls == 0 else ac_t)[tid] = huff_table(
                            counts, values
                        )
                        i += 17 + n
                elif m in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progr.
                    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
                    if prec != 8 or nc not in (1, 3) or not h or not w:
                        return None
                    if h * w > 1 << 26:
                        # declared-dimension allocation bomb: the
                        # coefficient arrays size by SOF dims, not by
                        # payload bytes — cap at 64M pixels so a
                        # crafted header cannot OOM an executor
                        return None
                    comps = []
                    for c in range(nc):
                        cid, hv, tq = seg[6 + 3 * c:9 + 3 * c]
                        comps.append((cid, hv >> 4, hv & 0x0F, tq))
                    sof = (h, w, comps)
                    progressive = m == 0xC2
                elif m in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                           0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                    return None  # arithmetic/12-bit/hierarchical: gated
                elif m == 0xDD:  # DRI
                    (dri,) = struct.unpack(">H", seg[:2])
                elif m == 0xDA:  # SOS
                    if sof is None:
                        return None
                    ns = seg[0]
                    scan = []
                    for c in range(ns):
                        cs, tt = seg[1 + 2 * c:3 + 2 * c]
                        scan.append((cs, tt >> 4, tt & 0x0F))
                    if progressive:
                        ss, se, ahl = seg[1 + 2 * ns:4 + 2 * ns]
                        # snapshot the table state: DHTs may be
                        # redefined between scans
                        prog_scans.append(
                            (scan, ss, se, ahl >> 4, ahl & 0x0F,
                             off + 2 + seglen, dri,
                             dict(dc_t), dict(ac_t))
                        )
                        # entropy data runs to the next non-RST marker
                        off = _jpeg_entropy_end(p, off + 2 + seglen)
                        continue
                    break
                off += 2 + seglen
            else:
                if not (progressive and prog_scans):
                    return None
            h, w, comps = sof
            if progressive:
                res = decode_progressive(p, h, w, comps, qt, prog_scans)
                if res is None:
                    return None
                planes, hmax, vmax = res
                return finish(planes, comps, hmax, vmax, h, w)
            if len(scan) != len(comps):
                return None  # interleaved full scan only
            if len(comps) == 1:
                # a one-component scan is NON-interleaved per B.2.3:
                # one 8x8 data unit per MCU in raster order, whatever
                # the declared sampling factors say
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            if hmax < 1 or vmax < 1 or any(
                c[1] < 1 or c[2] < 1 for c in comps
            ):
                return None
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            # per component: flat block list in raster order, each block
            # a 64-entry Python list of ZIGZAG-ORDER coefficients — the
            # hot loop never touches numpy (scalar numpy writes cost
            # ~10x a list store); dezigzag + dequantize run ONCE,
            # vectorized, after entropy decode
            comp_blocks = []
            for cid, ch, cv, tq in comps:
                comp_blocks.append(
                    [None] * ((mcuy * cv) * (mcux * ch))
                )
            tabs = []
            for cs, td, ta in scan:
                idx = next(
                    (i for i, c in enumerate(comps) if c[0] == cs), None
                )
                if idx is None or td not in dc_t or ta not in ac_t:
                    return None
                tq = comps[idx][3]
                if tq not in qt:
                    return None
                tabs.append((idx, dc_t[td], ac_t[ta]))
            # ------------------------------------------------------- #
            # hot loop: the accumulator bit reader is INLINED as local
            # variables (acc/nacc/bytepos/pad) — at ~1.7M peek/skip
            # calls per dense VGA image, method dispatch alone was
            # half the decode time.  Same algorithm as _JpegBits
            # (which the progressive path still uses): fill byte-wise,
            # consume via shift/mask, consuming synthesized zero
            # padding (nacc < pad) = data ran out = corrupt -> None.
            # ------------------------------------------------------- #
            segs = _JpegBits(p, off + 2 + seglen).segs
            seg_i = 0
            buf, rst = segs[0]
            buflen = len(buf)
            bytepos = acc = nacc = pad = 0
            pred = [0] * len(comps)
            mcu_done = 0
            per_mcu = []  # flattened (blocks_list, dct, act, comp_idx)
            for idx, dct, act in tabs:
                _, ch, cv, _tq = comps[idx]
                per_mcu.append((idx, ch, cv, mcux * ch, dct, act))
            for my in range(mcuy):
                for mx in range(mcux):
                    if dri and mcu_done and mcu_done % dri == 0:
                        # restart: byte-align, require the segment to
                        # be exactly exhausted and RST-terminated
                        drop = nacc % 8  # pad grows by 8s: %8-safe
                        nacc -= drop
                        acc &= (1 << nacc) - 1
                        if (
                            nacc < pad
                            or (nacc - pad) + 8 * (buflen - bytepos)
                            or not rst or seg_i + 1 >= len(segs)
                        ):
                            return None
                        seg_i += 1
                        buf, rst = segs[seg_i]
                        buflen = len(buf)
                        bytepos = acc = nacc = pad = 0
                        pred = [0] * len(comps)
                    for idx, ch, cv, row_w, dct, act in per_mcu:
                        dlut, dlong = dct
                        alut, along = act
                        blocks = comp_blocks[idx]
                        for by in range(cv):
                            for bx in range(ch):
                                blk = [0] * 64
                                # ---- DC: huff code + magnitude ----
                                while nacc < 8:
                                    if bytepos < buflen:
                                        acc = (acc << 8) | buf[bytepos]
                                        bytepos += 1
                                    else:
                                        acc <<= 8
                                        pad += 8
                                    nacc += 8
                                e = dlut[(acc >> (nacc - 8)) & 255]
                                if e >= 0:
                                    t = e >> 4
                                    nacc -= e & 15
                                else:
                                    while nacc < 16:
                                        if bytepos < buflen:
                                            acc = (acc << 8) | buf[bytepos]
                                            bytepos += 1
                                        else:
                                            acc <<= 8
                                            pad += 8
                                        nacc += 8
                                    c16 = (acc >> (nacc - 16)) & 0xFFFF
                                    for ln in range(9, 17):
                                        t = dlong.get((ln, c16 >> (16 - ln)))
                                        if t is not None:
                                            break
                                    else:
                                        return None
                                    nacc -= ln
                                acc &= (1 << nacc) - 1
                                if nacc < pad or t > 11:
                                    return None
                                if t:
                                    while nacc < t:
                                        if bytepos < buflen:
                                            acc = (acc << 8) | buf[bytepos]
                                            bytepos += 1
                                        else:
                                            acc <<= 8
                                            pad += 8
                                        nacc += 8
                                    nacc -= t
                                    v = (acc >> nacc) & ((1 << t) - 1)
                                    acc &= (1 << nacc) - 1
                                    if nacc < pad:
                                        return None
                                    if v < (1 << (t - 1)):  # EXTEND
                                        v += 1 - (1 << t)
                                    pred[idx] += v
                                blk[0] = pred[idx]
                                # ---- AC: run-length over the band ----
                                k = 1
                                while k < 64:
                                    while nacc < 8:
                                        if bytepos < buflen:
                                            acc = (acc << 8) | buf[bytepos]
                                            bytepos += 1
                                        else:
                                            acc <<= 8
                                            pad += 8
                                        nacc += 8
                                    e = alut[(acc >> (nacc - 8)) & 255]
                                    if e >= 0:
                                        rs = e >> 4
                                        nacc -= e & 15
                                    else:
                                        while nacc < 16:
                                            if bytepos < buflen:
                                                acc = (
                                                    (acc << 8)
                                                    | buf[bytepos]
                                                )
                                                bytepos += 1
                                            else:
                                                acc <<= 8
                                                pad += 8
                                            nacc += 8
                                        c16 = (acc >> (nacc - 16)) & 0xFFFF
                                        for ln in range(9, 17):
                                            rs = along.get(
                                                (ln, c16 >> (16 - ln)))
                                            if rs is not None:
                                                break
                                        else:
                                            return None
                                        nacc -= ln
                                    acc &= (1 << nacc) - 1
                                    if nacc < pad:
                                        return None
                                    s = rs & 0x0F
                                    if s == 0:
                                        if rs == 0xF0:
                                            k += 16  # ZRL
                                            continue
                                        break  # EOB
                                    k += rs >> 4
                                    if k > 63:
                                        return None
                                    while nacc < s:
                                        if bytepos < buflen:
                                            acc = (acc << 8) | buf[bytepos]
                                            bytepos += 1
                                        else:
                                            acc <<= 8
                                            pad += 8
                                        nacc += 8
                                    nacc -= s
                                    v = (acc >> nacc) & ((1 << s) - 1)
                                    acc &= (1 << nacc) - 1
                                    if nacc < pad:
                                        return None
                                    if v < (1 << (s - 1)):  # EXTEND
                                        v += 1 - (1 << s)
                                    blk[k] = v
                                    k += 1
                                blocks[
                                    (my * cv + by) * row_w + mx * ch + bx
                                ] = blk
                    mcu_done += 1
            # vectorized dezigzag + dequantize (shared shape with the
            # progressive path): DQT tables are stored in zigzag order,
            # matching the blk index k
            planes = []
            zz = np.array(ZIGZAG)
            for i, (cid, ch, cv, tq) in enumerate(comps):
                q = np.array(qt[tq], dtype=np.int32)
                by_n, bx_n = mcuy * cv, mcux * ch
                arr = np.array(comp_blocks[i], dtype=np.int32)
                nat = np.empty((by_n * bx_n, 64), dtype=np.int32)
                nat[:, zz] = arr * q
                planes.append(nat.reshape(by_n, bx_n, 8, 8))
            return finish(planes, comps, hmax, vmax, h, w)
        except Exception:
            # marker garbage, truncated entropy data, invalid Huffman
            # codes: NULL stats, never task failures
            return None

    return decode_jpeg


#: stdlib baseline JPEG pixel decoder; same object for unit tests
decode_jpeg_pixels = _make_jpeg_pixel_decoder()


def _tiff_lzw_decode(data: bytes, max_out: int) -> bytes | None:
    """TIFF6 section-13 LZW: MSB-first code packing, ClearCode 256,
    EOI 257, and the spec's EARLY code-width change (grow at next
    code 511/1023/2047 — one code sooner than GIF).  ``max_out``
    bounds expansion (strip byte counts are attacker-controlled)."""
    out = bytearray()
    table: list[bytes] = []

    def reset():
        table.clear()
        table.extend(bytes([i]) for i in range(256))
        table.append(b"")  # 256 Clear
        table.append(b"")  # 257 EOI

    reset()
    width = 9
    acc = nbits = pos = 0
    dlen = len(data)
    prev: bytes | None = None
    while True:
        while nbits < width:
            if pos >= dlen:
                return None  # ran out before EOI: truncated
            acc = (acc << 8) | data[pos]
            pos += 1
            nbits += 8
        code = (acc >> (nbits - width)) & ((1 << width) - 1)
        nbits -= width
        # mask consumed bits off — without this acc accumulates the
        # whole strip as one ever-growing big int and every shift
        # above turns O(strip bytes)
        acc &= (1 << nbits) - 1
        if code == 256:
            reset()
            width = 9
            prev = None
            continue
        if code == 257:
            return bytes(out)
        if code < len(table) and code != 256:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]
        else:
            return None  # code beyond the table: corrupt
        out += entry
        if len(out) > max_out:
            return None
        if prev is not None:
            table.append(prev + entry[:1])
        prev = entry
        # EARLY CHANGE: the encoder widens when ITS next code hits
        # 2^w - 1 (one sooner than GIF); the decoder's table is one
        # entry BEHIND the encoder at read time, so it widens at
        # 2^w - 2 (after assigning code 509/1021/2045)
        if len(table) + 2 >= (1 << width) and width < 12:
            width += 1


def _packbits_decode(data: bytes, max_out: int) -> bytes | None:
    """Apple PackBits (TIFF compression 32773): n in 0..127 copies
    n+1 literals, n in -127..-1 repeats the next byte 1-n times,
    -128 is a no-op."""
    out = bytearray()
    pos = 0
    while pos < len(data):
        n = data[pos] - 256 if data[pos] > 127 else data[pos]
        pos += 1
        if n >= 0:
            if pos + n + 1 > len(data):
                return None
            out += data[pos:pos + n + 1]
            pos += n + 1
        elif n != -128:
            if pos >= len(data):
                return None
            out += bytes([data[pos]]) * (1 - n)
            pos += 1
        if len(out) > max_out:
            return None
    return bytes(out)


def _make_tiff_pixel_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib TIFF PIXEL decoder: header + first-IFD walk
    (both byte orders), baseline 8-bit grayscale and RGB, chunky
    planar config, strip-based layout with compression 1 (none),
    5 (LZW, early-change) or 32773 (PackBits).  Tiles, planar=2,
    predictors, palettes and other bit depths yield None (NULL
    stats).  Closure-built so Spark tasks ship it by value."""
    import struct

    def decode_tiff(p: bytes) -> dict | None:
        try:
            if p is None or len(p) < 8:
                return None
            if p[:4] == b"II*\x00":
                e = "<"
            elif p[:4] == b"MM\x00*":
                e = ">"
            else:
                return None
            (ifd_off,) = struct.unpack(e + "I", p[4:8])
            if ifd_off + 2 > len(p):
                return None
            (n_ent,) = struct.unpack(e + "H", p[ifd_off:ifd_off + 2])
            if ifd_off + 2 + 12 * n_ent > len(p):
                return None
            type_size = {1: 1, 3: 2, 4: 4}

            tags: dict[int, list[int]] = {}
            for i in range(n_ent):
                off = ifd_off + 2 + 12 * i
                tag, typ, cnt = struct.unpack(
                    e + "HHI", p[off:off + 8])
                sz = type_size.get(typ)
                if sz is None:
                    continue  # RATIONAL/ASCII tags: not needed
                total = sz * cnt
                if total <= 4:
                    src = p[off + 8:off + 8 + total]
                else:
                    (voff,) = struct.unpack(e + "I", p[off + 8:off + 12])
                    if voff + total > len(p):
                        return None
                    src = p[voff:voff + total]
                fmt = {1: "B", 3: "H", 4: "I"}[typ]
                tags[tag] = list(
                    struct.unpack(e + fmt * cnt, src))

            def one(tag, default=None):
                v = tags.get(tag)
                return v[0] if v else default

            w, h = one(256), one(257)
            comp = one(259, 1)
            photo = one(262)
            spp = one(277, 1)
            bits = tags.get(258, [8] * spp)
            planar = one(284, 1)
            offsets = tags.get(273)
            counts = tags.get(279)
            rps = one(278, h)
            if (not w or not h or photo not in (0, 1, 2)
                    or planar != 1 or spp not in (1, 3)
                    or any(b != 8 for b in bits) or len(bits) != spp
                    or comp not in (1, 5, 32773)
                    or one(317, 1) != 1
                    or not offsets or not counts
                    or len(offsets) != len(counts)):
                return None
            if photo == 2 and spp != 3:
                return None
            n_strips = (h + rps - 1) // rps if rps else 0
            if rps < 1 or len(offsets) != n_strips:
                return None
            raw = bytearray()
            for si, (so, sc) in enumerate(zip(offsets, counts)):
                if so + sc > len(p):
                    return None
                rows_here = min(rps, h - si * rps)
                want = rows_here * w * spp
                seg = p[so:so + sc]
                if comp == 1:
                    dec_seg = bytes(seg)
                elif comp == 5:
                    dec_seg = _tiff_lzw_decode(seg, want)
                else:
                    dec_seg = _packbits_decode(seg, want)
                if dec_seg is None or len(dec_seg) != want:
                    return None
                raw += dec_seg

            import numpy as np

            arr = np.frombuffer(bytes(raw), dtype=np.uint8)
            pix = arr.reshape(h, w, spp)
            if photo == 0:
                # WhiteIsZero: invert so the raster is min-is-black
                pix = 255 - pix
            total = int(pix.sum(dtype=np.int64))
            n_px = w * h
            return {
                "width": int(w), "height": int(h), "channels": int(spp),
                "n_pixels": n_px,
                "px_min": int(pix.min()), "px_max": int(pix.max()),
                "px_sum": total, "px_mean": total / (n_px * spp),
                # top-down raster, resize input
                "pixels": pix,
            }
        except (struct.error, ValueError, OverflowError, MemoryError):
            return None

    return decode_tiff


#: stdlib TIFF pixel decoder; same object for unit tests
decode_tiff_pixels = _make_tiff_pixel_decoder()


def _make_aiff_sample_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib AIFF SAMPLE decoder: IFF FORM/AIFF chunk walk
    (word-aligned), COMM (channels, frames, sample size, sample rate
    as an 80-bit IEEE extended float — parsed from its sign/15-bit
    exponent/explicit-integer-bit 64-bit mantissa), SSND big-endian
    SIGNED PCM at 8/16/24/32 bits.  Truncation or geometry mismatch
    yields None."""
    import struct

    def f80(b: bytes) -> float | None:
        if len(b) != 10:
            return None
        (se,) = struct.unpack(">H", b[:2])
        (mant,) = struct.unpack(">Q", b[2:])
        sign = -1.0 if se & 0x8000 else 1.0
        exp = se & 0x7FFF
        if exp == 0 and mant == 0:
            return 0.0
        if exp == 0x7FFF:
            return None  # inf/nan rate: corrupt
        e2 = exp - 16383 - 63
        if not -200 <= e2 <= 200:
            # no real sample rate lives out here, and 2.0**e2 would
            # overflow Python's float for fuzz-sized exponents
            return None
        return sign * mant * 2.0 ** e2

    def decode_aiff(p: bytes) -> dict | None:
        if (p is None or len(p) < 12 or p[:4] != b"FORM"
                or p[8:12] != b"AIFF"):
            return None
        comm = ssnd = None
        off = 12
        while off + 8 <= len(p):
            tag = p[off:off + 4]
            (clen,) = struct.unpack(">I", p[off + 4:off + 8])
            body = p[off + 8:off + 8 + clen]
            if len(body) != clen:
                return None  # truncated chunk
            if tag == b"COMM" and clen >= 18:
                comm = body
            elif tag == b"SSND" and clen >= 8:
                ssnd = body
            off += 8 + clen + (clen & 1)  # chunks are word-aligned
        if comm is None or ssnd is None:
            return None
        channels, frames = struct.unpack(">HI", comm[:6])
        (bits,) = struct.unpack(">H", comm[6:8])
        rate = f80(comm[8:18])
        if (channels < 1 or bits not in (8, 16, 24, 32)
                or rate is None or not 0 < rate < 2**31):
            return None
        s_off, _blk = struct.unpack(">II", ssnd[:8])
        data = ssnd[8 + s_off:]
        width = bits // 8
        if len(data) < frames * channels * width:
            return None
        data = data[:frames * channels * width]

        import numpy as np

        if bits == 8:
            arr = np.frombuffer(data, dtype=np.int8).astype(np.int64)
        elif bits == 24:
            b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            arr = (
                (b[:, 0].astype(np.int64) << 16)
                | (b[:, 1].astype(np.int64) << 8)
                | b[:, 2].astype(np.int64)
            )
            arr -= (arr >> 23) << 24       # sign-extend bit 23
        else:
            arr = np.frombuffer(data, dtype=f">i{width}").astype(np.int64)
        if arr.size == 0:
            return None
        total = int(arr.sum())
        return {
            "sample_rate": int(round(rate)), "channels": int(channels),
            "bits": int(bits), "n_samples": int(arr.size),
            "s_min": int(arr.min()), "s_max": int(arr.max()),
            "s_sum": total, "s_sq_sum": _sq_sum_or_none(arr),
            "s_mean": total / arr.size,
        }

    return decode_aiff


#: stdlib AIFF sample decoder; same object for unit tests
decode_aiff_samples = _make_aiff_sample_decoder()


def _make_au_sample_decoder() -> Callable[[bytes], dict | None]:
    """Build the Sun/NeXT ``.au`` SAMPLE decoder: 24-byte big-endian
    header (magic '.snd', data offset/size, encoding, rate, channels),
    encodings 1 (G.711 mu-law), 2 (signed PCM8), 3/4/5 (big-endian
    PCM 16/24/32), 6/7 (IEEE float 32/64, reported on the Q15 grid
    like the WAV path), 27 (G.711 A-law)."""
    import struct

    BITS = {1: 8, 2: 8, 3: 16, 4: 24, 5: 32, 6: 32, 7: 64, 27: 8}

    def decode_au(p: bytes) -> dict | None:
        if p is None or len(p) < 24 or p[:4] != b".snd":
            return None
        d_off, d_size, enc, rate, channels = struct.unpack(
            ">IIIII", p[4:24])
        bits = BITS.get(enc)
        if bits is None or channels < 1 or d_off < 24 or rate < 1:
            return None
        end = len(p) if d_size == 0xFFFFFFFF else d_off + d_size
        if d_off > len(p) or end > len(p):
            return None
        data = p[d_off:end]
        width = bits // 8
        if len(data) % width:
            return None

        import numpy as np

        if enc == 1:
            arr = _g711_ulaw_expand(np.frombuffer(data, dtype=np.uint8))
        elif enc == 27:
            arr = _g711_alaw_expand(np.frombuffer(data, dtype=np.uint8))
        elif enc == 2:
            arr = np.frombuffer(data, dtype=np.int8).astype(np.int64)
        elif enc == 4:
            b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            arr = (
                (b[:, 0].astype(np.int64) << 16)
                | (b[:, 1].astype(np.int64) << 8)
                | b[:, 2].astype(np.int64)
            )
            arr -= (arr >> 23) << 24
        elif enc in (3, 5):
            arr = np.frombuffer(data, dtype=f">i{width}").astype(np.int64)
        else:  # 6 / 7: IEEE float, big-endian, Q15 integer report
            f = np.frombuffer(data, dtype=f">f{width}")
            if not np.isfinite(f).all():
                return None
            if f.size and float(np.abs(f).max()) > 65535.0:
                return None   # Q15 would overflow int32 (mirrors AIFF f80 guard)
            arr = np.rint(f.astype(np.float64) * 32768.0).astype(np.int64)
        if arr.size == 0 or arr.size % channels:
            return None
        total = int(arr.sum())
        return {
            "sample_rate": int(rate), "channels": int(channels),
            "bits": int(bits), "n_samples": int(arr.size),
            "s_min": int(arr.min()), "s_max": int(arr.max()),
            "s_sum": total, "s_sq_sum": _sq_sum_or_none(arr),
            "s_mean": total / arr.size,
        }

    return decode_au


#: Sun .au sample decoder; same object for unit tests
decode_au_samples = _make_au_sample_decoder()


def _make_pnm_pixel_decoder() -> Callable[[bytes], dict | None]:
    """Build the netpbm BINARY decoder: P5 (gray) / P6 (RGB) with
    whitespace/comment-tolerant headers, maxval < 256 (1 byte) or
    256..65535 (2 bytes big-endian -> uint16 raster, like 16-bit
    PNG).  ASCII variants (P1-P3) and PAM yield None."""

    def decode_pnm(p: bytes) -> dict | None:
        if p is None or len(p) < 2 or p[:1] != b"P" or p[1:2] not in b"56":
            return None
        spp = 1 if p[1:2] == b"5" else 3
        pos = 2
        vals = []
        while len(vals) < 3 and pos < len(p):
            c = p[pos:pos + 1]
            if c in b" \t\r\n":
                pos += 1
            elif c == b"#":
                while pos < len(p) and p[pos:pos + 1] != b"\n":
                    pos += 1
            elif c.isdigit():
                j = pos
                while j < len(p) and p[j:j + 1].isdigit():
                    j += 1
                vals.append(int(p[pos:j]))
                pos = j
            else:
                return None
        if len(vals) < 3 or pos >= len(p):
            return None
        # exactly ONE whitespace byte separates maxval from the raster
        if p[pos:pos + 1] not in b" \t\r\n":
            return None
        pos += 1
        w, h, maxval = vals
        if w < 1 or h < 1 or not 0 < maxval < 65536:
            return None

        import numpy as np

        wide = maxval > 255
        need = w * h * spp * (2 if wide else 1)
        if len(p) - pos < need:
            return None
        data = p[pos:pos + need]
        if wide:
            pix = np.frombuffer(data, dtype=">u2").astype(np.uint16)
        else:
            pix = np.frombuffer(data, dtype=np.uint8)
        if int(pix.max(initial=0)) > maxval:
            return None  # sample beyond maxval: corrupt
        pix = pix.reshape(h, w, spp)
        total = int(pix.sum(dtype=np.int64))
        n_px = w * h
        return {
            "width": int(w), "height": int(h), "channels": int(spp),
            "n_pixels": n_px,
            "px_min": int(pix.min()), "px_max": int(pix.max()),
            "px_sum": total, "px_mean": total / (n_px * spp),
            # top-down raster, resize input
            "pixels": pix,
        }

    return decode_pnm


#: netpbm P5/P6 pixel decoder; same object for unit tests
decode_pnm_pixels = _make_pnm_pixel_decoder()


def _make_pixel_decoder() -> Callable[[bytes], dict | None]:
    """Magic-byte dispatch over the six stdlib image pixel decoders
    (PNG scanline, GIF LZW, BMP 8/24/32-bit, TIFF strip-based,
    netpbm P5/P6, baseline/progressive JPEG)."""
    png = _make_png_pixel_decoder()
    gif = _make_gif_pixel_decoder()
    bmp = _make_bmp_pixel_decoder()
    jpg = _make_jpeg_pixel_decoder()
    tif = _make_tiff_pixel_decoder()
    pnm = _make_pnm_pixel_decoder()

    def dec(p: bytes) -> dict | None:
        if p is None or len(p) < 6:
            return None
        if p[:4] == b"\x89PNG":
            return png(p)
        if p[:6] in (b"GIF87a", b"GIF89a"):
            return gif(p)
        if p[:2] == b"BM":
            return bmp(p)
        if p[:4] in (b"II*\x00", b"MM\x00*"):
            return tif(p)
        if p[:2] in (b"P5", b"P6"):
            return pnm(p)
        if p[:3] == b"\xff\xd8\xff":
            return jpg(p)
        return None

    return dec


def decode_pixels(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Full image pixel decode as an Arrow-batched ``mapInPandas`` stage:
    (media_id, payload) -> :data:`PIXELS_SCHEMA` pixel statistics, with
    magic-byte dispatch over the six stdlib decoders — PNG scanlines
    (zlib inflate + unfilter, all color types/depths incl. Adam7 and
    palette+tRNS), GIF (full LZW), BMP (8/24/32-bit uncompressed),
    TIFF (first-IFD, strips, none/LZW/PackBits), netpbm P5/P6, and
    JPEG (real Huffman entropy decode + IDCT, baseline AND
    progressive).  Unrecognized/unsupported payloads
    yield NULL stats (the row is kept so coverage is auditable).  This
    closes the image leg of the former pixel-decode integration point
    with the stdlib only; Opus/inter-frame-video sample decode still
    needs external codecs (``decode_media``'s ``decoder='raise'``
    marker; MPEG-1 audio is real — see operators/mp3.py and its two
    scoped gates — and Ogg Vorbis is real, see operators/vorbis.py)."""
    dec = _make_pixel_decoder()

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = pd.DataFrame({"media_id": pdf[id_col]})
            stats = [dec(p) for p in pdf["payload"]]
            for col, dtype in (
                ("width", "Int32"), ("height", "Int32"),
                ("channels", "Int32"), ("n_pixels", "Int64"),
                ("px_min", "Int32"), ("px_max", "Int32"),
                ("px_sum", "Int64"),
            ):
                out[col] = pd.array(
                    [s[col] if s else None for s in stats], dtype=dtype
                )
            out["px_mean"] = [s["px_mean"] if s else None for s in stats]
            yield out

    return df.mapInPandas(run, schema=PIXELS_SCHEMA)


#: output contract for :func:`decode_video_frames`
FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("fps", T.DoubleType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("n_pixels", T.LongType(), True),
        T.StructField("px_min", T.IntegerType(), True),
        T.StructField("px_max", T.IntegerType(), True),
        T.StructField("px_sum", T.LongType(), True),
        T.StructField("px_mean", T.DoubleType(), True),
    ]
)


def _make_mjpeg_frame_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib AVI/MJPEG VIDEO frame decoder — a real video
    decode path, no third-party libraries: recursive RIFF LIST walk
    (hdrl: ``avih`` totals, ``strh``/``strf`` stream headers with the
    MJPG handler/compression check and the rate/scale frame-rate
    fraction; movi: word-aligned ``NNdc``/``NNdb`` frame chunks), then
    EVERY frame payload through the full stdlib JPEG decoder (baseline
    and progressive, operators/multimodal._make_jpeg_pixel_decoder)
    with cross-frame geometry consistency enforced and the pixel
    statistics aggregated across frames.

    Motion-JPEG is the one mainstream video codec whose frames are a
    format this container can genuinely decode; inter-frame codecs
    (H.26x, VP9, AV1...) remain gated on external libraries
    (``decode_media``'s ``decoder='raise'`` marker).  Corrupt
    structure, truncated chunks, non-MJPG streams, or any undecodable
    frame return None — NULL stats, never task failures.
    Closure-built so Spark tasks ship it by value."""
    import struct

    jpeg = _make_jpeg_pixel_decoder()

    def decode_avi(p: bytes) -> dict | None:
        try:
            if (
                p is None or len(p) < 12
                or p[:4] != b"RIFF" or p[8:12] != b"AVI "
            ):
                return None
            (riff_len,) = struct.unpack("<I", p[4:8])
            end = min(len(p), 8 + riff_len)
            # per-stream accounting: frame chunks carry their stream
            # number ('NNdc'), so a second video stream must not be
            # conflated with the MJPG one (round-7 review finding)
            state = {"fps": None, "mjpg": False, "cur_vids": False,
                     "stream_idx": -1, "video_stream": None,
                     "multi_video": False}
            frame_spans: list = []

            def walk(lo: int, hi: int) -> None:
                off = lo
                while off + 8 <= hi:
                    tag = p[off:off + 4]
                    (clen,) = struct.unpack("<I", p[off + 4:off + 8])
                    body_lo, body_hi = off + 8, off + 8 + clen
                    if body_hi > hi:
                        raise ValueError("chunk overruns its parent")
                    if tag == b"LIST":
                        walk(body_lo + 4, body_hi)
                    elif tag == b"strh":
                        state["stream_idx"] += 1
                        state["cur_vids"] = p[body_lo:body_lo + 4] \
                            == b"vids"
                        if state["cur_vids"]:
                            if state["video_stream"] is not None:
                                state["multi_video"] = True
                            else:
                                state["video_stream"] = \
                                    state["stream_idx"]
                        if state["cur_vids"] and clen >= 28 and \
                                state["video_stream"] \
                                == state["stream_idx"]:
                            if p[body_lo + 4:body_lo + 8] in (
                                b"MJPG", b"mjpg"
                            ):
                                state["mjpg"] = True
                            scale, rate = struct.unpack(
                                "<II", p[body_lo + 20:body_lo + 28]
                            )
                            if scale:
                                state["fps"] = rate / scale
                    elif tag == b"strf":
                        if state["cur_vids"] and clen >= 20 and \
                                state["video_stream"] \
                                == state["stream_idx"]:
                            if p[body_lo + 16:body_lo + 20] in (
                                b"MJPG", b"mjpg"
                            ):
                                state["mjpg"] = True
                    elif (
                        len(tag) == 4 and tag[:2].isdigit()
                        and tag[2:] in (b"dc", b"db")
                    ):
                        frame_spans.append(
                            (int(tag[:2]), body_lo, body_hi))
                    off = body_hi + (clen & 1)  # word-aligned

            walk(12, end)
            if state["multi_video"]:
                return None  # two video streams: reject, never blend
            vs = state["video_stream"]
            frame_spans = [(lo, hi) for sid, lo, hi in frame_spans
                           if sid == vs]
            if not state["mjpg"] or not frame_spans:
                return None
            w = h = ch = None
            n_px = px_sum = 0
            px_min, px_max = None, None
            for lo, hi in frame_spans:
                st = jpeg(p[lo:hi])
                if st is None:
                    return None
                if w is None:
                    w, h, ch = st["width"], st["height"], st["channels"]
                elif (w, h, ch) != (
                    st["width"], st["height"], st["channels"]
                ):
                    return None  # geometry change mid-stream
                n_px += st["n_pixels"]
                px_sum += st["px_sum"]
                px_min = st["px_min"] if px_min is None \
                    else min(px_min, st["px_min"])
                px_max = st["px_max"] if px_max is None \
                    else max(px_max, st["px_max"])
            return {
                "width": w, "height": h, "channels": ch,
                "fps": state["fps"], "n_frames": len(frame_spans),
                "n_pixels": n_px, "px_min": px_min, "px_max": px_max,
                "px_sum": px_sum,
                "px_mean": px_sum / (n_px * ch) if n_px else None,
            }
        except Exception:
            return None

    return decode_avi


#: stdlib AVI/MJPEG frame decoder; same object for unit tests
decode_mjpeg_frames = _make_mjpeg_frame_decoder()


def decode_video_frames(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Full VIDEO frame decode as an Arrow-batched ``mapInPandas``
    stage: (media_id, payload) -> :data:`FRAMES_SCHEMA` per-stream
    frame statistics via the AVI/MJPEG decoder (every frame through
    the real stdlib JPEG pipeline).  Unrecognized/unsupported payloads
    yield NULL stats."""
    dec = _make_mjpeg_frame_decoder()

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = pd.DataFrame({"media_id": pdf[id_col]})
            stats = [dec(p) for p in pdf["payload"]]
            for col, dtype in (
                ("width", "Int32"), ("height", "Int32"),
                ("channels", "Int32"),
            ):
                out[col] = pd.array(
                    [s[col] if s else None for s in stats], dtype=dtype
                )
            out["fps"] = [s["fps"] if s else None for s in stats]
            for col, dtype in (
                ("n_frames", "Int32"), ("n_pixels", "Int64"),
                ("px_min", "Int32"), ("px_max", "Int32"),
                ("px_sum", "Int64"),
            ):
                out[col] = pd.array(
                    [s[col] if s else None for s in stats], dtype=dtype
                )
            out["px_mean"] = [s["px_mean"] if s else None for s in stats]
            yield out

    return df.mapInPandas(run, schema=FRAMES_SCHEMA)


#: output contract for :func:`decode_samples`
SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("s_min", T.IntegerType(), True),
        T.StructField("s_max", T.IntegerType(), True),
        T.StructField("s_sum", T.LongType(), True),
        T.StructField("s_sq_sum", T.LongType(), True),
        T.StructField("s_mean", T.DoubleType(), True),
    ]
)


def _sq_sum_or_none(arr) -> int | None:
    """Exact sum of squares when it fits the schema's int64, else None
    (full-scale 32-bit samples overflow at just 5 samples — a silent
    numpy wraparound here would hash-gate as garbage)."""
    peak = max(abs(int(arr.min())), abs(int(arr.max())))
    if peak and arr.size > (2**63 - 1) // (peak * peak):
        return None
    return int((arr * arr).sum())


def _g711_ulaw_expand(code):
    """G.711 mu-law byte codes -> linear int64 samples (the standard
    segment/mantissa expansion; all 256 codes match stdlib audioop)."""
    import numpy as np

    u = ~code.astype(np.int64) & 0xFF
    t = (((u & 0x0F) << 3) + 0x84) << ((u & 0x70) >> 4)
    return np.where(u & 0x80, 0x84 - t, t - 0x84)


def _g711_alaw_expand(code):
    """G.711 A-law byte codes -> linear int64 samples."""
    import numpy as np

    a = code.astype(np.int64) ^ 0x55
    seg = (a & 0x70) >> 4
    t = (a & 0x0F) << 4
    t = np.where(seg == 0, t + 8, (t + 0x108) << np.maximum(seg - 1, 0))
    return np.where(a & 0x80, t, -t)


def _make_wav_sample_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib WAV SAMPLE decoder — full sample decode, no
    third-party libraries: RIFF chunk walk (word-aligned; a chunk that
    declares more bytes than remain marks the file truncated) ->
    ``fmt `` parse -> vectorized numpy expansion of the ``data``
    payload.

    Format coverage (every one formula-defined, no external tables):

    * integer PCM (tag 1) at 8 / 16 / 24 / 32 bits — 8-bit stays
      UNSIGNED 0..255 per the container spec, wider widths are signed
      little-endian (24-bit assembled from byte triples and
      sign-extended);
    * IEEE float (tag 3) at 32 / 64 bits — reported on the Q15 integer
      grid (``rint(sample * 32768)``) so every container shares the
      one integer stats contract of :data:`SAMPLES_SCHEMA`;
    * G.711 A-law (tag 6) and mu-law (tag 7) at 8 bits — expanded to
      their canonical 13/14-bit linear magnitudes on the int16 grid
      with the standard segment/mantissa formulas (the reference
      ``alaw2linear``/``ulaw2linear`` expansion; cross-checked against
      the stdlib ``audioop`` tables in tests);
    * WAVE_FORMAT_EXTENSIBLE (tag 0xFFFE) wrapping any of the above —
      the real format code is the first two bytes of the SubFormat
      GUID.

    Samples are interleaved channels flattened into one stream
    (``n_samples`` counts every channel's samples).  Closure-built so
    Spark tasks ship it by value (see _make_header_parser)."""
    import struct

    def decode_wav(p: bytes) -> dict | None:
        if (
            p is None or len(p) < 12
            or p[:4] != b"RIFF" or p[8:12] != b"WAVE"
        ):
            return None
        fmt = data = None
        sub_fmt = None
        off = 12
        while off + 8 <= len(p):
            tag = p[off:off + 4]
            (clen,) = struct.unpack("<I", p[off + 4:off + 8])
            body = p[off + 8:off + 8 + clen]
            if len(body) != clen:
                return None  # truncated chunk: corrupt, NULL stats
            if tag == b"fmt " and clen >= 16:
                fmt = struct.unpack("<HHIIHH", body[:16])
                if fmt[0] == 0xFFFE:
                    # EXTENSIBLE: cbSize(2) + validBits(2) + mask(4)
                    # + SubFormat GUID, whose first u16 is the code
                    if clen < 26:
                        return None
                    (sub_fmt,) = struct.unpack("<H", body[24:26])
            elif tag == b"data":
                data = body
            off += 8 + clen + (clen & 1)  # chunks are word-aligned
        if fmt is None or data is None:
            return None
        audio_format, channels, rate, _byte_rate, _block, bits = fmt
        if audio_format == 0xFFFE:
            audio_format = sub_fmt
        if channels < 1:
            return None

        import numpy as np

        if audio_format == 1 and bits in (8, 16, 24, 32):
            width = bits // 8
            if len(data) % width:
                return None
            if bits == 8:
                arr = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
            elif bits == 24:
                b = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
                arr = (
                    b[:, 0].astype(np.int64)
                    | (b[:, 1].astype(np.int64) << 8)
                    | (b[:, 2].astype(np.int64) << 16)
                )
                arr -= (arr >> 23) << 24       # sign-extend bit 23
            else:
                arr = np.frombuffer(
                    data, dtype=f"<i{width}").astype(np.int64)
        elif audio_format == 3 and bits in (32, 64):
            if len(data) % (bits // 8):
                return None
            f = np.frombuffer(data, dtype=f"<f{bits // 8}")
            if not np.isfinite(f).all():
                return None                    # NaN/inf payload: corrupt
            if f.size and float(np.abs(f).max()) > 65535.0:
                return None   # Q15 would overflow int32 (mirrors AIFF f80 guard)
            arr = np.rint(f.astype(np.float64) * 32768.0).astype(np.int64)
        elif audio_format in (6, 7) and bits == 8:
            code = np.frombuffer(data, dtype=np.uint8)
            arr = (_g711_ulaw_expand(code) if audio_format == 7
                   else _g711_alaw_expand(code))
        else:
            return None

        if arr.size == 0 or arr.size % channels:
            return None
        total = int(arr.sum())
        return {
            "sample_rate": int(rate), "channels": int(channels),
            "bits": int(bits), "n_samples": int(arr.size),
            "s_min": int(arr.min()), "s_max": int(arr.max()),
            "s_sum": total, "s_sq_sum": _sq_sum_or_none(arr),
            "s_mean": total / arr.size,
        }

    return decode_wav


#: stdlib WAV PCM sample decoder; same object for unit tests
decode_wav_samples = _make_wav_sample_decoder()


def _make_flac_sample_decoder() -> Callable[[bytes], dict | None]:
    """Build the stdlib FLAC SAMPLE decoder — a real FLAC frame
    decoder, no third-party libraries: metadata-block walk ->
    STREAMINFO -> per-frame bit-level parse (sync, header with UTF-8
    frame number and CRC-8 verify, ALL FOUR subframe types — CONSTANT /
    VERBATIM / FIXED / LPC (quantized coefficients, arithmetic-shift
    integer predictor) — with partitioned-Rice residuals incl. the
    escape code and wasted-bits shift, CRC-16 frame verify), at
    8/12/16/20/24 bits, independent channels AND the three stereo
    decorrelation assignments (left/side, right/side, mid/side; the
    side channel at bps+1 bits).

    Corrupt structure, CRC failures, truncated streams, and reserved
    codes return None — NULL stats, never task failures.  The remaining
    gated codec surface is Opus/inter-frame video plus the two
    operators/mp3.py gates (``decode_media``'s ``decoder='raise'``
    marker).  Closure-built so Spark tasks ship it by value.
    """
    import struct

    CRC8_POLY, CRC16_POLY = 0x07, 0x8005

    # table-driven CRCs (one lookup per byte instead of an 8-iteration
    # bit fold — the bit fold profiled as ~30% of a verbatim-stream
    # decode); the tables are generated from the same polynomials, and
    # the fuzz/round-trip suites pin equality with the independent
    # test-side bit-fold implementations
    def _crc_table(poly: int, width: int) -> list:
        top = 1 << (width - 1)
        mask = (1 << width) - 1
        tbl = []
        for b in range(256):
            c = b << (width - 8)
            for _ in range(8):
                c = ((c << 1) ^ poly) & mask if c & top else (c << 1) & mask
            tbl.append(c)
        return tbl

    CRC8_TBL = _crc_table(CRC8_POLY, 8)
    CRC16_TBL = _crc_table(CRC16_POLY, 16)

    def crc8(data: bytes) -> int:
        c = 0
        t = CRC8_TBL
        for b in data:
            c = t[c ^ b]
        return c

    def crc16(data: bytes) -> int:
        c = 0
        t = CRC16_TBL
        for b in data:
            c = t[(c >> 8) ^ b] ^ ((c << 8) & 0xFF00)
        return c

    class _Bits:
        """Absolute-bit-position reader.  ``read`` extracts all n bits
        with ONE ``int.from_bytes`` over the covering byte span (C
        speed) instead of an n-iteration bit loop; ``unary`` skips
        zero runs a byte at a time via ``bit_length``.  Same external
        contract as the per-bit version it replaces (EOFError past the
        end)."""

        __slots__ = ("data", "pos", "nbits")

        def __init__(self, data: bytes, pos: int = 0):
            self.data = data
            self.pos = pos  # BIT position
            self.nbits = len(data) * 8

        def read(self, n: int) -> int:
            p = self.pos
            end = p + n
            if end > self.nbits:
                raise EOFError
            chunk = int.from_bytes(
                self.data[p >> 3:(end + 7) >> 3], "big")
            self.pos = end
            return (chunk >> ((-end) & 7)) & ((1 << n) - 1)

        def unary(self) -> int:
            d, p = self.data, self.pos
            limit = self.nbits
            q = 0
            while p < limit:
                rem = d[p >> 3] & (0xFF >> (p & 7))
                if rem == 0:
                    step = 8 - (p & 7)  # rest of this byte is zeros
                    q += step
                    p += step
                    continue
                lead = 7 - (rem.bit_length() - 1)  # MSB index from top
                q += lead - (p & 7)
                self.pos = (p & ~7) + lead + 1
                return q
            raise EOFError

        def read_many(self, count: int, width: int):
            """count fixed-width fields as an int64 numpy array (the
            VERBATIM/warmup fast path): unpack the covering bit span
            once, reshape, and dot with bit weights.  width <= 32 so
            int64 never overflows."""
            import numpy as np

            total = count * width
            p = self.pos
            end = p + total
            if end > self.nbits:
                raise EOFError
            b0, b1 = p >> 3, (end + 7) >> 3
            bits = np.unpackbits(
                np.frombuffer(self.data[b0:b1], dtype=np.uint8))
            bits = bits[p - b0 * 8:p - b0 * 8 + total].reshape(
                count, width)
            w = (1 << np.arange(width - 1, -1, -1, dtype=np.int64))
            self.pos = end
            return bits.astype(np.int64) @ w

    # Per-param 16-bit rice LUTs (round-12, the JPEG/MP3/Vorbis table
    # discipline): lut[peek16] packs ((value + 2^17) << 5 | code_len)
    # for every rice code of length q+1+param <= 16; -1 = the '1' stop
    # bit lies past the window (long zero run) -> per-bit fallback.
    # Built lazily per param actually seen (numpy, ~1 ms), cached for
    # the decoder's lifetime; params >= 14 (near-raw rice, rare) skip
    # the table entirely.
    _RICE_OFF = 1 << 17
    _RICE_LUTS: dict = {}

    def _rice_lut(k: int) -> list:
        import numpy as np

        lut = np.full(1 << 16, -1, dtype=np.int64)
        for q in range(0, 16 - k):
            lo = 1 << (15 - q)
            vs = np.arange(lo, lo << 1, dtype=np.int64)
            r = (vs >> (15 - q - k)) & ((1 << k) - 1)
            u = (q << k) | r
            val = (u >> 1) ^ -(u & 1)
            lut[vs] = ((val + _RICE_OFF) << 5) | (q + 1 + k)
        return lut.tolist()

    # FIXED-predictor coefficients per order — [1], [2,-1], [3,-3,1],
    # [4,-6,4,-1] — are written out as specialized rolling-local
    # recurrences in _subframe below
    def _subframe(br: "_Bits", bps: int, n: int) -> list | None:
        if br.read(1):
            return None  # padding bit must be 0
        stype = br.read(6)
        wasted = 0
        if br.read(1):  # wasted-bits-per-sample flag: unary count - 1
            wasted = br.unary() + 1
        eff = bps - wasted
        if eff < 1:
            return None  # wasted >= bps: corrupt, not a shift error
        sign = 1 << (eff - 1)

        def s2c(v):  # two's complement of eff-bit value
            return v - (v << 1 & (1 << eff)) if v & sign else v

        def residuals(order: int) -> list | None:
            method = br.read(2)
            if method > 1:
                return None
            pbits = 4 if method == 0 else 5
            escape = (1 << pbits) - 1
            porder = br.read(4)
            nparts = 1 << porder
            if n % nparts:
                return None  # partitions must divide the blocksize
            res = []
            app = res.append
            # the rice loop runs with the reader state in LOCALS (one
            # method call per residual was the decode's top cost for
            # real fixed/LPC content); same unary byte-skip + one
            # int.from_bytes per magnitude as _Bits itself
            d = br.data
            limit = br.nbits
            pos = br.pos
            for part in range(nparts):
                cnt = (n >> porder) - (order if part == 0 else 0)
                if cnt < 0:
                    return None
                br.pos = pos
                param = br.read(pbits)
                pos = br.pos
                if param == escape:
                    # escape: residuals stored raw as SIGNED raw-bit ints
                    raw = br.read(5)
                    pos = br.pos
                    for _ in range(cnt):
                        br.pos = pos
                        v = br.read(raw) if raw else 0
                        pos = br.pos
                        if raw and v & (1 << (raw - 1)):
                            v -= 1 << raw
                        app(v)
                else:
                    mask = (1 << param) - 1
                    lut = None
                    if param < 14:
                        lut = _RICE_LUTS.get(param)
                        if lut is None:
                            lut = _RICE_LUTS[param] = _rice_lut(param)
                    from_bytes = int.from_bytes
                    for _ in range(cnt):
                        if lut is not None and pos + 16 <= limit:
                            # 16-bit peek through the per-param table:
                            # a hit consumes <= 16 bits, so it can
                            # never cross ``limit`` — EOF semantics
                            # live entirely on the fallback path
                            b0 = pos >> 3
                            e3 = (pos + 23) >> 3
                            pk = (from_bytes(d[b0:e3], "big")
                                  >> (((e3 - b0) << 3) - (pos & 7)
                                      - 16)) & 0xFFFF
                            e = lut[pk]
                            if e >= 0:
                                pos += e & 31
                                app((e >> 5) - _RICE_OFF)
                                continue
                        q = 0
                        while True:
                            if pos >= limit:
                                raise EOFError
                            rem = d[pos >> 3] & (0xFF >> (pos & 7))
                            if rem == 0:
                                step = 8 - (pos & 7)
                                q += step
                                pos += step
                            else:
                                lead = 7 - (rem.bit_length() - 1)
                                q += lead - (pos & 7)
                                pos = (pos & ~7) + lead + 1
                                break
                        if param:
                            end = pos + param
                            if end > limit:
                                raise EOFError
                            r = (int.from_bytes(
                                d[pos >> 3:(end + 7) >> 3], "big")
                                >> ((-end) & 7)) & mask
                            pos = end
                        else:
                            r = 0
                        u = (q << param) | r
                        app((u >> 1) ^ -(u & 1))  # unzigzag
            br.pos = pos
            return res

        if stype == 0:  # CONSTANT
            out = [s2c(br.read(eff))] * n
        elif stype == 1:  # VERBATIM — one vectorized fixed-width
            # unpack + two's-complement correction for the whole
            # subframe instead of n bit-reads
            vals = br.read_many(n, eff)
            out = (vals - ((vals & sign) << 1)).tolist()
        elif 8 <= stype <= 12:  # FIXED, order = stype & 7 (001xxx)
            order = stype & 7
            if order > n:
                return None
            warm = [s2c(br.read(eff)) for _ in range(order)]
            res = residuals(order)
            if res is None:
                return None
            # specialized recurrences on rolling locals (the generic
            # coef loop cost ~3x for the common orders 1-2)
            out = list(warm)
            app = out.append
            if order == 0:
                out = res
            elif order == 1:
                p1 = warm[0]
                for r in res:
                    p1 = r + p1
                    app(p1)
            elif order == 2:
                p2, p1 = warm
                for r in res:
                    v = r + 2 * p1 - p2
                    app(v)
                    p2, p1 = p1, v
            elif order == 3:
                p3, p2, p1 = warm
                for r in res:
                    v = r + 3 * p1 - 3 * p2 + p3
                    app(v)
                    p3, p2, p1 = p2, p1, v
            else:
                p4, p3, p2, p1 = warm
                for r in res:
                    v = r + 4 * p1 - 6 * p2 + 4 * p3 - p4
                    app(v)
                    p4, p3, p2, p1 = p3, p2, p1, v
        elif stype >= 32:  # LPC (1xxxxx), order = low 5 bits + 1
            order = (stype & 31) + 1
            if order > n:
                return None
            warm = [s2c(br.read(eff)) for _ in range(order)]
            prec = br.read(4)
            if prec == 15:
                return None  # invalid per spec
            prec += 1
            shift = br.read(5)
            if shift & 0x10:
                return None  # negative shift: reserved
            psign = 1 << (prec - 1)
            coef = []
            for _ in range(order):
                cv = br.read(prec)
                coef.append(cv - (1 << prec) if cv & psign else cv)
            res = residuals(order)
            if res is None:
                return None
            out = list(warm)
            for i in range(order, n):
                acc = 0
                for j in range(order):
                    acc += coef[j] * out[i - 1 - j]
                # arithmetic (floor) shift, negative-safe — the spec's
                # integer predictor; Python >> on ints floors like C's
                # arithmetic shift on two's complement
                out.append(res[i - order] + (acc >> shift))
        else:
            return None  # reserved subframe types
        if wasted:
            out = [v << wasted for v in out]
        return out

    BLOCKSIZE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608}

    def decode_flac(p: bytes) -> dict | None:
        if p is None or len(p) < 42 or p[:4] != b"fLaC":
            return None
        off = 4
        info = None
        while off + 4 <= len(p):  # metadata blocks
            hdr = p[off]
            (blen,) = struct.unpack(">I", b"\0" + p[off + 1:off + 4])
            body = p[off + 4:off + 4 + blen]
            if hdr & 0x7F == 0 and len(body) >= 34:
                # len(body), not blen: a declared length overrunning the
                # payload is a truncated upload, not a task failure
                info = body
            off += 4 + blen
            if hdr & 0x80:
                break
        if info is None:
            return None
        rate = (info[10] << 12) | (info[11] << 4) | (info[12] >> 4)
        channels = ((info[12] >> 1) & 0x07) + 1
        bps = (((info[12] & 1) << 4) | (info[13] >> 4)) + 1
        total = (
            ((info[13] & 0x0F) << 32) | struct.unpack(">I", info[14:18])[0]
        )
        if rate == 0 or bps not in (8, 12, 16, 20, 24):
            return None

        samples: list = []
        got = 0
        while off < len(p) and (total == 0 or got < total):
            try:
                br = _Bits(p, off * 8)
                if br.read(14) != 0b11111111111110 or br.read(1):
                    return None
                br.read(1)  # blocking strategy (frame-number coding only)
                bs_code = br.read(4)
                sr_code = br.read(4)
                ch_code = br.read(4)
                ss_code = br.read(3)
                if br.read(1):
                    return None  # reserved
                # UTF-8 coded frame/sample number: lead byte sets length
                lead = br.read(8)
                extra = 0
                while lead & (0x80 >> extra) and extra < 7:
                    extra += 1
                if extra == 1:
                    return None
                for _ in range(max(0, extra - 1)):
                    if br.read(2) != 0b10:
                        return None
                    br.read(6)
                if bs_code == 0:
                    return None
                elif bs_code == 6:
                    n = br.read(8) + 1
                elif bs_code == 7:
                    n = br.read(16) + 1
                elif bs_code in BLOCKSIZE:
                    n = BLOCKSIZE[bs_code]
                else:
                    n = 256 << (bs_code - 8)
                if sr_code == 12:
                    br.read(8)
                elif sr_code in (13, 14):
                    br.read(16)
                elif sr_code == 15:
                    return None
                hdr_end = br.pos // 8
                if br.read(8) != crc8(p[off:hdr_end]):
                    return None
                if ch_code > 10:
                    return None  # reserved assignments
                if ch_code <= 7:
                    if ch_code + 1 != channels:
                        return None
                elif channels != 2:
                    return None  # decorrelated assignments are stereo
                fbps = {
                    0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24
                }.get(ss_code)
                if fbps is None:
                    return None
                # the SIDE channel carries one extra bit: subframe 1 for
                # left/side and mid/side, subframe 0 for right/side
                side_idx = {8: 1, 9: 0, 10: 1}.get(ch_code, -1)
                chans = []
                for ci in range(2 if ch_code > 7 else channels):
                    out = _subframe(
                        br, fbps + (1 if ci == side_idx else 0), n
                    )
                    if out is None:
                        return None
                    chans.append(out)
                if ch_code == 8:    # left/side: right = left - side
                    left, side = chans
                    chans = [left, [a - b for a, b in zip(left, side)]]
                elif ch_code == 9:  # right/side: left = right + side
                    side, right = chans
                    chans = [[a + b for a, b in zip(right, side)], right]
                elif ch_code == 10:  # mid/side (libFLAC reconstruction)
                    mid, side = chans
                    left, right = [], []
                    for mv, sv in zip(mid, side):
                        m2 = (mv << 1) | (sv & 1)
                        left.append((m2 + sv) >> 1)
                        right.append((m2 - sv) >> 1)
                    chans = [left, right]
                br.pos = (br.pos + 7) & ~7  # frame padding to byte edge
                fend = br.pos // 8
                if fend + 2 > len(p):
                    return None
                if struct.unpack(">H", p[fend:fend + 2])[0] != crc16(
                    p[off:fend]
                ):
                    return None
                for i in range(n):
                    for c in chans:
                        samples.append(c[i])
                got += n
                off = fend + 2
            except Exception:
                # bit-level garbage can surface anywhere in the frame
                # walk (EOF, impossible field combinations, adversarial
                # LPC feedback overflow) — the decoder contract is NULL
                # stats for corrupt payloads, never a task failure
                return None
        if not samples:
            return None
        if total and got != total:
            return None  # truncated at a frame boundary: incomplete

        import numpy as np

        arr = np.asarray(samples, dtype=np.int64)
        tot = int(arr.sum())
        return {
            "sample_rate": int(rate), "channels": int(channels),
            "bits": int(bps), "n_samples": int(arr.size),
            "s_min": int(arr.min()), "s_max": int(arr.max()),
            "s_sum": tot, "s_sq_sum": int((arr * arr).sum()),
            "s_mean": tot / arr.size,
        }

    return decode_flac


#: stdlib FLAC sample decoder (fixed-predictor subset); for unit tests
decode_flac_samples = _make_flac_sample_decoder()


def _make_sample_decoder() -> Callable[[bytes], dict | None]:
    """Magic-byte dispatch over the audio sample decoders (WAV, AIFF,
    Sun .au, FLAC, MPEG-1 audio — see operators/mp3.py for the MP3 scope —
    and Ogg Vorbis — see operators/vorbis.py; Ogg streams whose first
    packet is not a Vorbis ident, e.g. Opus/Theora, yield NULL
    stats)."""
    from .mp3 import _make_mp3_sample_decoder
    from .vorbis import _make_vorbis_sample_decoder

    wav = _make_wav_sample_decoder()
    flac = _make_flac_sample_decoder()
    mp3 = _make_mp3_sample_decoder()
    vorbis = _make_vorbis_sample_decoder()
    aiff = _make_aiff_sample_decoder()
    au = _make_au_sample_decoder()

    def dec(p: bytes) -> dict | None:
        if p is None or len(p) < 4:
            return None
        if p[:4] == b"RIFF":
            return wav(p)
        if p[:4] == b"FORM":
            return aiff(p)
        if p[:4] == b".snd":
            return au(p)
        if p[:4] == b"fLaC":
            return flac(p)
        if p[:4] == b"OggS":
            return vorbis(p)
        if p[:3] == b"ID3" or (p[0] == 0xFF and (p[1] & 0xE0) == 0xE0):
            return mp3(p)
        return None

    return dec


def decode_samples(df: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Full audio sample decode as an Arrow-batched ``mapInPandas``
    stage: (media_id, payload) -> :data:`SAMPLES_SCHEMA` sample
    statistics, with magic-byte dispatch over WAV PCM, FLAC (real
    bit-level frame decode — all subframe types and channel
    assignments, CRC-verified), MPEG-1 audio Layers I/II/III
    (full Layer I/II bitstream decode + polyphase synthesis; Layer
    III zero-spectrum subset — operators/mp3.py documents the two
    gates), and Ogg Vorbis (full setup/floor1/residue/coupling/IMDCT
    decode — operators/vorbis.py; round-tripped against an
    independent packer in tests/test_vorbis_decoder.py).
    Unrecognized/unsupported/truncated payloads yield NULL
    stats (the row is kept so coverage is auditable).  Together with
    :func:`decode_pixels` this closes the audio leg of the former
    sample-decode integration point with the stdlib only; the
    remaining gated codec surface is Opus/inter-frame video plus the
    two mp3.py gates (``decode_media``'s ``decoder='raise'``
    marker)."""
    dec = _make_sample_decoder()

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = pd.DataFrame({"media_id": pdf[id_col]})
            stats = [dec(p) for p in pdf["payload"]]
            for col, dtype in (
                ("sample_rate", "Int32"), ("channels", "Int32"),
                ("bits", "Int32"), ("n_samples", "Int64"),
                ("s_min", "Int32"), ("s_max", "Int32"),
                ("s_sum", "Int64"), ("s_sq_sum", "Int64"),
            ):
                out[col] = pd.array(
                    [s[col] if s else None for s in stats], dtype=dtype
                )
            out["s_mean"] = [s["s_mean"] if s else None for s in stats]
            yield out

    return df.mapInPandas(run, schema=SAMPLES_SCHEMA)


def decode_media(
    df: DataFrame,
    decoder: Callable[[bytes], dict] | str = "auto",
    batch_note_col: str | None = None,
) -> DataFrame:
    """Decode payloads to metadata + feature vectors via Arrow-batched
    ``mapInPandas``.

    ``decoder="auto"`` (default): parse real container headers
    (PNG/GIF/BMP/JPEG/WAV — stdlib struct, no third-party libs) and fall
    back to the deterministic md5 stub for unrecognized bytes; the 8-dim
    feature is digest-derived either way.  ``decoder="fake"`` forces the
    md5 stub for every payload (bit-stable regardless of content —
    what the oracle-checked queries pin).  ``decoder="raise"`` raises
    NotImplementedError (marks the full pixel/sample-decoder integration
    point).  A callable receives the payload bytes and must return a dict
    with the DECODED_SCHEMA metadata fields."""
    if decoder == "raise":
        raise NotImplementedError(
            "Opus-payload and inter-frame video (H.26x, VP9, ...) "
            "SAMPLE decoding requires codec libraries not present in "
            "this environment; use decoder='auto' (header parsing "
            "incl. Ogg ident/duration) — or decode_pixels (real "
            "stdlib PNG/GIF/BMP/JPEG incl. progressive), "
            "decode_samples (real WAV/FLAC/MPEG-1/Ogg-Vorbis audio; "
            "see operators/mp3.py for MP3's scoped gates, "
            "operators/vorbis.py for the full Vorbis decode), and "
            "decode_video_frames (real AVI/MJPEG)"
        )
    if decoder in ("auto", "fake"):
        # closures only (shipped by value — see _make_header_parser)
        parse = _make_header_parser() if decoder == "auto" else None

        def dec(payload):
            import hashlib as _hl

            if payload is None:
                return {"mime": None, "n_bytes": None, "width": None,
                        "height": None, "duration_ms": None, "feature": None}
            d = _hl.md5(payload).digest()
            feature = [b / 255.0 for b in d[:8]]
            hdr = parse(payload) if parse is not None else None
            if hdr is None:
                hdr = {"mime": "application/octet-stream",
                       "width": 16 + d[0], "height": 16 + d[1],
                       "duration_ms": None}
            return {"n_bytes": len(payload), "feature": feature, **hdr}
    else:
        dec = decoder

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            out = pdf[["media_id", "kind"]].copy()
            decoded = [dec(p) for p in pdf["payload"]]
            out["mime"] = [d["mime"] for d in decoded]
            out["n_bytes"] = pd.array(
                [d["n_bytes"] for d in decoded], dtype="Int64"
            )
            out["width"] = pd.array([d["width"] for d in decoded], dtype="Int32")
            out["height"] = pd.array([d["height"] for d in decoded], dtype="Int32")
            out["duration_ms"] = pd.array(
                [d["duration_ms"] for d in decoded], dtype="Int64"
            )
            out["feature"] = [d["feature"] for d in decoded]
            yield out

    return df.mapInPandas(run, schema=DECODED_SCHEMA)


def resize_array(px, out_w: int, out_h: int, method: str = "nearest"):
    """Resize one decoded raster (uint8 ``(h, w, c)``, the ``pixels``
    key every image decoder emits) to ``(out_h, out_w, c)``.

    * ``nearest``: source index ``floor(i * in / out)`` — pure integer
      arithmetic (the OpenCV INTER_NEAREST mapping), output uint8.
    * ``bilinear``: pixel-center (align_corners=False) convention,
      ``src = (i + 0.5) * in/out - 0.5`` clamped to the edge, separable
      two-tap interpolation, output float64.  When ``in/out`` is a
      power of two the weights are exact binary fractions, so sums are
      bit-deterministic across engines (the mm_resize oracle exploits
      this at 2x).

    Fully vectorized (fancy-indexing gathers + broadcast weights) —
    this is the per-record kernel of :func:`resize_pixels`, the
    training-pipeline "normalize every image to the model's input
    size" stage."""
    import numpy as np

    h, w, _c = px.shape
    if out_w < 1 or out_h < 1:
        raise ValueError(f"bad output size {out_w}x{out_h}")
    if method == "nearest":
        ys = (np.arange(out_h, dtype=np.int64) * h) // out_h
        xs = (np.arange(out_w, dtype=np.int64) * w) // out_w
        return px[ys][:, xs]
    if method != "bilinear":
        raise ValueError(f"unknown resize method {method!r}")

    def grid(out_n: int, in_n: int):
        src = (np.arange(out_n) + 0.5) * (in_n / out_n) - 0.5
        src = np.clip(src, 0.0, float(in_n - 1))
        i0 = np.floor(src).astype(np.int64)
        i1 = np.minimum(i0 + 1, in_n - 1)
        return i0, i1, src - i0

    y0, y1, fy = grid(out_h, h)
    x0, x1, fx = grid(out_w, w)
    p = px.astype(np.float64)
    fx = fx[None, :, None]
    top = p[y0][:, x0] * (1.0 - fx) + p[y0][:, x1] * fx
    bot = p[y1][:, x0] * (1.0 - fx) + p[y1][:, x1] * fx
    fy = fy[:, None, None]
    return top * (1.0 - fy) + bot * fy


#: output contract for :func:`resize_pixels` — px stats are DOUBLE
#: because bilinear output is fractional
RESIZED_SCHEMA = (
    "media_id long, width int, height int, channels int, n_pixels long, "
    "px_min double, px_max double, px_sum double, px_mean double"
)


def resize_pixels(
    df: DataFrame,
    out_w: int | None = None,
    out_h: int | None = None,
    scale: float | None = None,
    method: str = "nearest",
    id_col: str = "media_id",
) -> DataFrame:
    """Decode + resize every image payload in one Arrow-batched
    ``mapInPandas`` stage — the "every image to NxN" normalization a
    multimodal training pipeline runs over its whole corpus.  Fixed
    target (``out_w``/``out_h``) or per-image relative ``scale``
    (output dims ``round(dim * scale)``, min 1).  Emits
    :data:`RESIZED_SCHEMA` stats of the RESIZED raster (NULLs for
    undecodable payloads, rows kept so coverage is auditable); the
    raster itself stays executor-local — at 100 TB the whole point is
    that full-size pixels never hit the shuffle or the driver."""
    if (scale is None) == (out_w is None and out_h is None):
        raise ValueError("pass either out_w+out_h or scale")
    if scale is None and (out_w is None or out_h is None):
        raise ValueError("out_w and out_h go together")
    dec = _make_pixel_decoder()

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            recs = []
            for mid, p in zip(pdf[id_col], pdf["payload"]):
                d = dec(p)
                if d is None:
                    recs.append((int(mid),) + (None,) * 8)
                    continue
                if scale is not None:
                    ow = max(1, int(round(d["width"] * scale)))
                    oh = max(1, int(round(d["height"] * scale)))
                else:
                    ow, oh = int(out_w), int(out_h)
                r = resize_array(d["pixels"], ow, oh, method).astype(
                    np.float64)
                tot = float(r.sum())
                n = ow * oh
                recs.append((
                    int(mid), ow, oh, d["channels"], n,
                    float(r.min()), float(r.max()), tot,
                    tot / (n * d["channels"]),
                ))
            yield pd.DataFrame(recs, columns=[
                "media_id", "width", "height", "channels", "n_pixels",
                "px_min", "px_max", "px_sum", "px_mean",
            ])

    return df.mapInPandas(run, schema=RESIZED_SCHEMA)


def image_ahash(
    df: DataFrame, id_col: str = "media_id", grid: int = 8
) -> DataFrame:
    """Perceptual AVERAGE-HASH over the real decoded rasters — the
    classic near-duplicate image fingerprint: decode, bilinear-resize
    to ``grid x grid`` (:func:`resize_array`), channel-SUM luminance
    (an integer-exact stand-in for the usual /3 gray mean, so the
    fingerprint is bit-deterministic across engines), then bit
    ``j*grid + i`` (row-major) is set when cell (j, i) exceeds the
    raster mean.

    Output: ``ahash`` as a zero-padded hex string (grid²/4 chars) and,
    when the hash fits 64 bits, ``ahash_bits`` as the two's-complement
    BIGINT that feeds :func:`image_neardup_pairs`' banded Hamming
    machinery.  Undecodable payloads yield NULLs (rows kept)."""
    if grid < 1:
        raise ValueError("grid must be >= 1")
    dec = _make_pixel_decoder()
    n_bits = grid * grid
    n_hex = max(1, (n_bits + 3) // 4)

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            ids, hexes, bits64 = [], [], []
            for mid, p in zip(pdf[id_col], pdf["payload"]):
                ids.append(int(mid))
                d = dec(p)
                if d is None:
                    hexes.append(None)
                    bits64.append(None)
                    continue
                g = resize_array(
                    d["pixels"], grid, grid, "bilinear").sum(axis=2)
                mean = float(g.mean())
                h = 0
                for j, hot in enumerate((g > mean).ravel()):
                    if hot:
                        h |= 1 << j
                hexes.append(format(h, f"0{n_hex}x"))
                if n_bits <= 64:
                    bits64.append(h - (1 << 64) if h >= (1 << 63) else h)
                else:
                    bits64.append(None)
            yield pd.DataFrame({
                "media_id": ids,
                "ahash": pd.array(hexes, dtype="string"),
                "ahash_bits": pd.array(bits64, dtype="Int64"),
            })

    return df.mapInPandas(
        run, schema="media_id long, ahash string, ahash_bits long")


def image_ahash_fingerprints(
    df: DataFrame, id_col: str = "media_id"
) -> DataFrame:
    """The ``(id, simhash)`` frame :func:`image_neardup_pairs` bands and
    verifies: 64-bit average-hashes of the decodable payloads.  Exposed
    so callers can checkpoint it before the banding self-joins — the frame
    is ~16 bytes/image while every re-evaluation is a full Python pixel
    decode of the corpus (the banded plan references it from several
    subtrees, and Catalyst does not deduplicate common subtrees)."""
    return (
        image_ahash(df, id_col)
        .filter(F.col("ahash_bits").isNotNull())
        .select(id_col, F.col("ahash_bits").alias("simhash"))
    )


def image_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    id_col: str = "media_id",
    bands: int = 4,
    collapse_identical: bool = True,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """NEAR-DUPLICATE IMAGE pairs: ``(id_a, id_b, hamming)`` whose
    average-hashes (:func:`image_ahash`, 64-bit) are within
    ``max_hamming`` bits — re-encodes of the same picture, recrops,
    slight recompressions.  Candidate generation and exact Hamming
    verification reuse the Manku banding machinery
    (:func:`whisper_spark.operators.dedup.simhash_hamming_pairs`):
    equi-join on ``bands`` 16-bit hash bands, so the shuffle is
    candidate-proportional — never an image-pairs scan.  Recall
    guarantee: every pair whose differing bits touch at most
    ``bands - 1`` bands is found (in particular any pair with
    ``hamming < bands``).

    ``fingerprints`` lets the caller pass a pre-built (typically
    checkpointed) :func:`image_ahash_fingerprints` frame so the decode
    runs once instead of once per plan subtree; when omitted the frame
    is built from ``df`` as before."""
    from .dedup import simhash_hamming_pairs

    if fingerprints is not None:
        missing = {id_col, "simhash"} - set(fingerprints.columns)
        if missing:
            raise ValueError(
                "fingerprints= must be an image_ahash_fingerprints frame "
                f"(columns ({id_col!r}, 'simhash')); missing "
                f"{sorted(missing)} — a mismatched frame would yield "
                "silently wrong pairs (ADVICE r13)"
            )
    fp = (
        fingerprints
        if fingerprints is not None
        else image_ahash_fingerprints(df, id_col)
    )
    return simhash_hamming_pairs(
        fp, max_hamming, id_col=id_col, bits=64, bands=bands,
        collapse_identical=collapse_identical,
    )


def frame_sample(
    df: DataFrame, every_ms: int = 1000, id_col: str = "media_id"
) -> DataFrame:
    """(media_id, frame_idx, frame_ts_ms): one row per sampled frame of a
    video payload, derived from meta.duration_ms — pure JVM explode, no
    decode needed to *plan* frame extraction (the decode of each frame is
    then a decode_media-style batch stage)."""
    return (
        df.filter(F.col("kind") == "video")
        .select(
            id_col,
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(
                        (F.col("meta.duration_ms") / every_ms).cast("int") - 1, F.lit(0)
                    ),
                )
            ).alias("frame_idx"),
        )
        .withColumn("frame_ts_ms", F.col("frame_idx") * every_ms)
    )


def repartition_by_bytes(df: DataFrame, target_bytes: int = 128 << 20) -> DataFrame:
    """Spread media rows so each partition holds ~target_bytes of payload
    (size skew is the scaling hazard with blob columns)."""
    stats = df.agg(
        F.sum(F.octet_length("payload")).alias("total"),
    ).collect()[0]
    total = stats["total"] or 0
    n = max(1, int(total / target_bytes) + 1)
    return df.repartition(n)
