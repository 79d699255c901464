"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Pattern: `binaryFile` source (or any binary column) + a metadata struct
column; decode/feature steps are Arrow-batched `mapInPandas` stages so
each Python worker amortizes codec setup over a batch and the data
never leaves executor memory.

Codec chain, best-real-first with deterministic stubs as the floor:
images decode via PIL when importable, else the stdlib PNG codec
(dataops/png_codec.py) for PNG bytes; WAV audio parses through the
stdlib `wave` module; MP4/MOV metadata comes from a stdlib ISO BMFF
box walk. Compressed formats that genuinely need native libs
(JPEG/mp3/H.264 frames) fall back to deterministic sha256 fakes with
the real signatures — the Spark-side plumbing (schema, batching,
partitioning) is identical either way, so swapping in a deploy-time
codec changes no plan shape.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F, types as T

from seatunnel_spark._pyworker import map_in_pandas, ship_by_value
from seatunnel_spark.dataops.png_codec import (UnsupportedPng, decode_png,
                                               encode_png,
                                               gray8_histogram_feature,
                                               is_png, resize_nearest)

ship_by_value(__name__)

IMAGE_META = T.StructType(
    [
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("format", T.StringType()),
    ]
)

AUDIO_META = T.StructType(
    [
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("codec", T.StringType()),
    ]
)


def read_binary_dir(spark, path: str, glob: str | None = None) -> DataFrame:
    """Load files as (path, modificationTime, length, content) via the
    native binaryFile source (reference Binary read strategy analog)."""
    reader = spark.read.format("binaryFile")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def _pil_available() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _decode_image_stub(content: bytes) -> tuple[int, int, str, list[float]]:
    """STUB decoder — deterministic sha256 fake keeping the real shape:
    (width, height, format, 8-d feature). Engine-replayable, so the
    mm_* oracle rows stay stable regardless of installed libs."""
    h = hashlib.sha256(content or b"").digest()
    w = 64 + h[0] % 192
    ht = 64 + h[1] % 192
    feat = [b / 255.0 for b in h[:8]]
    return w, ht, "fake/raw", feat


def _decode_image_pil(content: bytes) -> tuple[int, int, str, list[float]]:
    """Real codec path (used when PIL is importable on the executor):
    decode, and derive an 8-bin grayscale-histogram feature."""
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(content))
    gray = img.convert("L").resize((32, 32))
    hist = gray.histogram()
    buckets = [sum(hist[i * 32:(i + 1) * 32]) for i in range(8)]
    total = float(sum(buckets)) or 1.0
    return (img.width, img.height, (img.format or "raw").lower(),
            [b / total for b in buckets])


def _decode_image_png(content: bytes) -> tuple[int, int, str, list[float]]:
    """Stdlib PNG path (dataops/png_codec.py — real decode, no deps):
    full chunk/inflate/unfilter decode + 8-bin grayscale histogram."""
    img = decode_png(content)
    h, w = img.shape[:2]
    return w, h, "png", gray8_histogram_feature(img)


def _decode_image_auto(content: bytes) -> tuple[int, int, str, list[float]]:
    if _pil_available():
        return _decode_image_pil(content)
    if is_png(content):
        try:
            return _decode_image_png(content)
        except UnsupportedPng:
            pass
    return _decode_image_stub(content)


def _pick_decoder(codec: str):
    """codec='stub' pins determinism (oracle queries), 'pil'/'png'
    force a real codec, 'auto' (library default) prefers PIL, then the
    stdlib PNG decoder when the bytes are PNG, then the stub — so the
    mm_* oracle rows (non-PNG synthetic bytes) stay stable while real
    PNG corpora decode for real even without PIL."""
    if codec == "stub":
        return _decode_image_stub
    if codec == "pil":
        return _decode_image_pil
    if codec == "png":
        return _decode_image_png
    return _decode_image_auto


def image_features(df: DataFrame, content_col: str = "content",
                   codec: str = "auto") -> DataFrame:
    """Decode + feature-extract images in Arrow batches.

    Output adds: image_meta struct + image_feat array<float>. The
    mapInPandas stage is the scale-correct shape: batch-level python,
    no per-row serialization, executor-local.
    """
    out_schema = T.StructType(
        df.schema.fields
        + [
            T.StructField("image_meta", IMAGE_META),
            T.StructField("image_feat", T.ArrayType(T.FloatType())),
        ]
    )

    def run(batches):
        decode = _pick_decoder(codec)  # resolved on the EXECUTOR
        for pdf in batches:
            metas, feats = [], []
            for content in pdf[content_col]:
                w, h, fmt, feat = decode(bytes(content) if content is not None else b"")
                metas.append({"width": w, "height": h, "format": fmt})
                feats.append(feat)
            pdf["image_meta"] = metas
            pdf["image_feat"] = feats
            yield pdf

    return map_in_pandas(df, run, schema=out_schema)


def image_resize(df: DataFrame, width: int, height: int,
                 content_col: str = "content",
                 codec: str = "auto") -> DataFrame:
    """Resize images in Arrow batches: replaces `content` with the
    re-encoded bytes and appends a resized_meta struct.

    codec='pil' (or 'auto' with PIL importable) really resizes and
    re-encodes PNG; the stub emits deterministic bytes sized ~w*h/16 so
    byte-volume behavior under repartition/spill is realistic. The
    Spark shape is the real one either way: binary in, binary out,
    batch-at-a-time, no driver involvement, safe to chain before a
    partitioned write."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("resized_meta", IMAGE_META)]
    )

    def run(batches):
        use_pil = (codec == "pil"
                   or (codec == "auto" and _pil_available()))
        for pdf in batches:
            out_bytes, metas = [], []
            for content in pdf[content_col]:
                src = bytes(content) if content is not None else b""
                if use_pil:
                    import io

                    from PIL import Image

                    img = Image.open(io.BytesIO(src)).resize((width, height))
                    buf = io.BytesIO()
                    img.save(buf, format="PNG")
                    out_bytes.append(buf.getvalue())
                    metas.append({"width": width, "height": height,
                                  "format": "png"})
                elif (codec in ("auto", "png")
                      and is_png(src)):
                    # stdlib path: real decode -> nearest resize -> PNG
                    resized = resize_nearest(decode_png(src), width,
                                             height)
                    out_bytes.append(encode_png(resized))
                    metas.append({"width": width, "height": height,
                                  "format": "png"})
                else:
                    h = hashlib.sha256(
                        src + f"{width}x{height}".encode()).digest()
                    out_bytes.append(
                        h * max((width * height) // (16 * len(h)), 1))
                    metas.append({"width": width, "height": height,
                                  "format": "fake/raw"})
            pdf[content_col] = out_bytes
            pdf["resized_meta"] = metas
            yield pdf

    return map_in_pandas(df, run, schema=out_schema)


def _dhash64_from_gray(gray) -> int:
    """dHash (difference hash): resize to 9x8 grayscale, set bit
    (y*8 + x) when pixel[y, x] < pixel[y, x+1] — 64 horizontal-gradient
    bits, the classic perceptual hash (robust to rescale/recompress,
    cheap, and pure integer arithmetic so any engine replays it).
    `gray` is an 8x9 list-of-rows of ints."""
    sig = 0
    for y in range(8):
        for x in range(8):
            if gray[y][x] < gray[y][x + 1]:
                sig |= 1 << (y * 8 + x)
    return sig - (1 << 64) if sig >= (1 << 63) else sig


def _phash_pil(content: bytes) -> int:
    import io

    from PIL import Image

    img = Image.open(io.BytesIO(content)).convert("L")
    # NEAREST, not the default filter: bit-identical to the stdlib
    # png path's resize_nearest, so mixed-codec clusters still match
    small = img.resize((9, 8), Image.NEAREST)
    px = list(small.getdata())
    return _dhash64_from_gray([px[y * 9:(y + 1) * 9] for y in range(8)])


def _phash_png(content: bytes) -> int:
    img = decode_png(content)
    small = resize_nearest(img, 9, 8)
    gray = [[int(small[y][x].mean()) if small.ndim == 3
             else int(small[y][x]) for x in range(9)] for y in range(8)]
    return _dhash64_from_gray(gray)


def _phash_stub(content: bytes) -> int:
    """STUB perceptual hash: the first 8 sha256 bytes as a signed
    64-bit int. Identical bytes collide at Hamming 0 (exact-dup
    behavior is real); near-dup behavior needs a real codec. Engine-
    replayable — the DuckDB oracle recomputes the same fold."""
    h = hashlib.sha256(content or b"").digest()
    v = int.from_bytes(h[:8], "big")
    return v - (1 << 64) if v >= (1 << 63) else v


def _pick_phash(codec: str):
    if codec == "stub":
        return _phash_stub
    if codec == "pil":
        return _phash_pil
    if codec == "png":
        return _phash_png

    def _auto(content: bytes) -> int:
        if _pil_available():
            return _phash_pil(content)
        if is_png(content):
            try:
                return _phash_png(content)
            except UnsupportedPng:
                pass
        return _phash_stub(content)

    return _auto


def image_phash64(df: DataFrame, content_col: str = "content",
                  codec: str = "auto",
                  out_col: str = "phash") -> DataFrame:
    """Perceptual 64-bit image hash (dHash) in Arrow batches — the
    image analog of dedup.simhash64. Same codec ladder as
    image_features: PIL when importable, stdlib PNG decode for PNG
    bytes, deterministic sha256 stub as the floor (exact dups still
    collide; the Spark plumbing — batching, schema, downstream
    blocking — is identical either way).

    codec="stub" never touches Python: the sha256 fold is pure
    Catalyst (sha2 -> two 32-bit conv halves -> shiftleft|or, the
    signed-64 reinterpretation _phash_stub computes) — bit-identical
    to the executor-side fold (tested) with zero JVM<->Python
    boundary (the row-at-a-time decode is only ever needed for real
    image codecs)."""
    if codec == "stub":
        hx = F.sha2(F.coalesce(F.col(content_col),
                               F.lit(b"")), 256)
        hi = F.conv(F.substring(hx, 1, 8), 16, 10).cast("long")
        lo = F.conv(F.substring(hx, 9, 8), 16, 10).cast("long")
        return df.withColumn(out_col, F.shiftleft(hi, 32).bitwiseOR(lo))
    out_schema = T.StructType(df.schema.fields
                              + [T.StructField(out_col, T.LongType())])

    def run(batches):
        ph = _pick_phash(codec)  # resolved on the EXECUTOR
        for pdf in batches:
            pdf[out_col] = [
                ph(bytes(c) if c is not None else b"")
                for c in pdf[content_col]
            ]
            yield pdf

    return map_in_pandas(df, run, schema=out_schema)


def image_near_dups(df: DataFrame, id_col: str = "path",
                    content_col: str = "content",
                    codec: str = "auto", max_hamming: int = 3,
                    blocks: int = 8,
                    max_bucket: int | None = 100_000) -> DataFrame:
    """Image near-duplicate pairs -> (id_a, id_b, hamming): perceptual
    dHash (image_phash64), then the EXACT-RECALL multi-index
    pigeonhole Hamming join shared with text SimHash
    (dedup.hamming_near_dups — every pair within `max_hamming` agrees
    on some (blocks - max_hamming)-segment combination, so candidates
    come from bucket joins, never a cross join; `_cap_buckets` bounds
    degenerate buckets). Closes the multimodal dedup gap: the same
    blocking math, cap discipline, and plan shape as the text side,
    with the decode pass as the only new cost — one mapInPandas scan,
    paid once."""
    from seatunnel_spark.dataops.dedup import hamming_near_dups

    sig = image_phash64(df, content_col, codec).select(id_col, "phash")
    return hamming_near_dups(sig, id_col, "phash", max_hamming,
                             blocks, max_bucket)


def _decode_audio(content: bytes) -> tuple[int, int, str]:
    """RIFF/WAVE PCM decodes for real via the stdlib `wave` module
    (sample rate + frame count straight from the fmt/data chunks);
    compressed codecs (mp3/flac/ogg) need native libs and fall back to
    the deterministic stub until deploy-time wiring."""
    if content[:4] == b"RIFF" and content[8:12] == b"WAVE":
        import io
        import wave

        try:
            with wave.open(io.BytesIO(content)) as w:
                return (w.getframerate(), w.getnframes(),
                        f"pcm_s{8 * w.getsampwidth()}le")
        except (wave.Error, EOFError):  # truncated RIFF -> stub
            pass
    h = hashlib.sha256(content or b"").digest()
    return 16000, 16000 * (1 + h[2] % 30), "fake/pcm"


def audio_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    out_schema = T.StructType(df.schema.fields + [T.StructField("audio_meta", AUDIO_META)])

    def run(batches):
        for pdf in batches:
            pdf["audio_meta"] = [
                dict(zip(("sample_rate", "n_samples", "codec"),
                         _decode_audio(bytes(c) if c is not None else b"")))
                for c in pdf[content_col]
            ]
            yield pdf

    return map_in_pandas(df, run, schema=out_schema)


def frame_sample_plan(df: DataFrame, meta_col: str = "audio_meta",
                      every_n: int = 16000) -> DataFrame:
    """Expand each media row into frame/chunk offsets WITHOUT decoding —
    a pure Catalyst sequence+explode, so planning 10^9 frame tasks is a
    metadata operation. Downstream decode stages then mapInPandas only
    the sampled offsets."""
    n = F.col(meta_col)["n_samples"]
    return df.withColumn(
        "frame_offset",
        F.explode(F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n))),
    )


# --------------------------------------------------------------------------
# video metadata (stdlib ISO BMFF / MP4 box parse)
# --------------------------------------------------------------------------

VIDEO_META = T.StructType(
    [
        T.StructField("duration_ms", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("container", T.StringType()),
    ]
)


def _decode_video_meta(content: bytes) -> tuple[int, int, int, str]:
    """ISO BMFF (MP4/MOV) metadata without any decoder: walk the box
    tree per the ISO 14496-12 layout — mvhd gives timescale+duration,
    tkhd carries the 16.16 fixed-point track dimensions. Non-BMFF
    bytes fall back to a deterministic stub (like image/audio)."""
    import struct as _s

    def walk(buf, start, end, want):
        found = {}
        pos = start
        while pos + 8 <= end:
            size, = _s.unpack_from(">I", buf, pos)
            btype = buf[pos + 4:pos + 8]
            body, hdr = pos + 8, 8
            if size == 1:  # 64-bit largesize
                size, = _s.unpack_from(">Q", buf, pos + 8)
                body, hdr = pos + 16, 16
            if size < hdr or pos + size > end:
                break
            if btype in want:
                found.setdefault(btype, []).append((body, pos + size))
            if btype in (b"moov", b"trak"):
                for k, v in walk(buf, body, pos + size, want).items():
                    found.setdefault(k, []).extend(v)
            pos += size
        return found

    if len(content) >= 12 and content[4:8] == b"ftyp":
        boxes = walk(content, 0, len(content), {b"mvhd", b"tkhd"})
        dur_ms, w, h = 0, 0, 0
        if boxes.get(b"mvhd"):
            s, _ = boxes[b"mvhd"][0]
            ver = content[s]
            if ver == 1:
                scale, dur = _s.unpack_from(">IQ", content, s + 4 + 16)
            else:
                scale, dur = _s.unpack_from(">II", content, s + 4 + 8)
            dur_ms = int(dur * 1000 // (scale or 1))
        for s, _ in boxes.get(b"tkhd", []):
            ver = content[s]
            off = s + 4 + (32 if ver == 1 else 20) + 52
            if off + 8 <= len(content):
                tw, th = _s.unpack_from(">II", content, off)
                w, h = max(w, tw >> 16), max(h, th >> 16)
        return dur_ms, w, h, "mp4"
    hd = hashlib.sha256(content or b"").digest()
    return 1000 * (1 + hd[3] % 120), 640, 360, "fake/container"


def video_metadata(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append video_meta (duration_ms, width, height, container) — the
    same Arrow-batched mapInPandas shape as image/audio; planning
    frame-sample stages over hours of video never touches a decoder."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("video_meta", VIDEO_META)])

    def run(batches):
        for pdf in batches:
            pdf["video_meta"] = [
                dict(zip(("duration_ms", "width", "height", "container"),
                         _decode_video_meta(bytes(c) if c is not None else b"")))
                for c in pdf[content_col]
            ]
            yield pdf

    return map_in_pandas(df, run, schema=out_schema)


# --------------------------------------------------------------------------
# deterministic media synthesis (test/bench fixtures that exercise the
# REAL RIFF/ISO-BMFF parse paths — metadata is a pure function of the
# inputs, so a SQL oracle can replay it without any decoder)
# --------------------------------------------------------------------------

def synthesize_wav(sample_rate: int, n_frames: int) -> bytes:
    """Minimal valid RIFF/WAVE PCM s16le mono file of silence."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(b"\x00\x00" * n_frames)
    return buf.getvalue()


def synthesize_mp4(duration_ms: int, width: int, height: int) -> bytes:
    """Minimal ISO BMFF: ftyp + moov(mvhd v0 + trak(tkhd v0)) with a
    1000-tick timescale and 16.16 fixed-point track dimensions — just
    the boxes _decode_video_meta walks (ISO 14496-12 layout)."""
    import struct as _s

    def box(btype: bytes, body: bytes) -> bytes:
        return _s.pack(">I", 8 + len(body)) + btype + body

    ftyp = box(b"ftyp", b"isom" + _s.pack(">I", 0) + b"isom")
    mvhd = box(b"mvhd", b"\x00\x00\x00\x00"          # version+flags
               + _s.pack(">II", 0, 0)                 # ctime, mtime
               + _s.pack(">II", 1000, duration_ms)    # timescale, duration
               + b"\x00" * 80)                        # rate..next_track
    tkhd = box(b"tkhd", b"\x00\x00\x00\x07"
               + _s.pack(">IIIII", 0, 0, 1, 0, duration_ms)
               + b"\x00" * 52                         # reserved..matrix
               + _s.pack(">II", width << 16, height << 16))
    moov = box(b"moov", mvhd + box(b"trak", tkhd))
    return ftyp + moov
