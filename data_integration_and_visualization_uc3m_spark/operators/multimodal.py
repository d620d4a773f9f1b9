"""Multimodal column plumbing (north-star extension).

Image/audio/video payloads are opaque ``binary`` columns with typed
metadata; the Spark-side shape — schema, partition sizing, Arrow-batched
UDF signatures — is real and tested. Since round 10 the decode path is
REAL end-to-end for one raster format: 24-bit BMP (``decode_bmp24`` +
``gray_resize_area`` drive ``extract_features(fake=False)`` and
``resize_images(fake=False)`` on actual pixels), alongside the all-JVM
header codecs (PNG/JPEG/GIF/MP4/WAV) and PCM sample DSP.
``DecoderUnavailable`` is reserved for formats that genuinely need an
external codec library (JPEG entropy decode, video frames).

Scale notes:
- binary payloads inflate row size: cap ``spark.sql.files.maxPartitionBytes``
  and avoid wide shuffles carrying the blob — project metadata early,
  shuffle ids + features, re-join the payload only when needed.
- decode/feature steps run as ``mapInPandas`` (Arrow batches), so the
  per-row Python cost is amortized; batch size is the knob
  (``spark.sql.execution.arrow.maxRecordsPerBatch``).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class DecoderUnavailable(NotImplementedError):
    """Raised by stubbed codec paths — swap in a real decoder (PIL,
    torchaudio, pyav) where available."""


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Adapter: treat document text bytes as an opaque payload so the
    binary plumbing is exercisable against the driver testdata."""
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
        F.lit("text/plain").alias("mime_type"),
        F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")).alias(
            "meta"
        ),
    )


def payload_metadata(media: DataFrame) -> DataFrame:
    """Cheap, JVM-side metadata extraction — no decode, no Python:
    byte length + content hash. This is the projection that should be
    computed and persisted BEFORE any shuffle at 100 TB."""
    return media.select(
        "media_id",
        "mime_type",
        F.length("payload").alias("n_bytes"),
        F.md5(F.col("payload").cast("string")).alias("content_hash"),
    )


_FEATURE_SCHEMA = (
    "media_id long, n_bytes long, feature_0 double, feature_1 double, feature_2 double"
)


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Decode + featurize via mapInPandas (Arrow batches).

    With ``fake=True`` (the historical default) emits deterministic
    pseudo-features from the payload bytes so the distributed plumbing
    (batch iteration, schema contract, partition-parallel execution) is
    testable without any codec. With ``fake=False`` the decode is REAL
    and dispatched on the payload's magic bytes: ``BM`` payloads go
    through ``decode_bmp24`` (pure stdlib — honoring data offset, row
    padding, bottom-up order and BGR) and ``P6`` payloads through
    ``decode_ppm6`` (binary netpbm, maxval 255); both feed
    ``bmp_pixel_features``'s exact integer luma statistics. Payloads
    with any other magic under ``fake=False`` raise
    ``DecoderUnavailable``, reserved for formats that genuinely need
    an external codec library (JPEG entropy decode, video).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n_bytes = payloads.map(lambda b: 0 if b is None else len(b))
            if fake:
                # deterministic fake features: byte-sum based, no RNG
                def feat(b, k):
                    if b is None or len(b) == 0:
                        return 0.0
                    return float(sum(b[k::7]) % 1000) / 1000.0

                yield pd.DataFrame(
                    {
                        "media_id": pdf["media_id"],
                        "n_bytes": n_bytes,
                        "feature_0": payloads.map(lambda b: feat(b, 0)),
                        "feature_1": payloads.map(lambda b: feat(b, 1)),
                        "feature_2": payloads.map(lambda b: feat(b, 2)),
                    }
                )
                continue

            feats = []
            for b in payloads:
                magic = bytes(b[:2]) if b is not None and len(b) >= 2 else b""
                if magic == b"BM":
                    w, h, px = decode_bmp24(bytes(b))
                elif magic == b"P6":
                    w, h, px = decode_ppm6(bytes(b))
                else:
                    raise DecoderUnavailable(
                        "real decode beyond BMP/PPM payloads needs an "
                        "image/audio codec library"
                    )
                feats.append(bmp_pixel_features(px, w, h))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_bytes": n_bytes,
                    "feature_0": [float(f[0]) for f in feats],
                    "feature_1": [float(f[1]) for f in feats],
                    "feature_2": [float(f[2]) for f in feats],
                }
            )

    return media.select("media_id", "payload").mapInPandas(op, _FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: expands each payload row into
    frame-index rows (the decode itself is stubbed — indexes are derived
    from payload size as a deterministic fake). Shows the explode-then-
    process shape that keeps frame work parallel instead of per-video."""
    n_frames = (F.length("payload") / F.lit(100)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n))
    return media.select(
        "media_id", F.explode(idx).alias("frame_index")
    )


_RESIZE_SCHEMA = (
    "media_id long, out_width int, out_height int, payload binary"
)


def resize_images(
    media: DataFrame, width: int = 64, height: int = 64, fake: bool = True
) -> DataFrame:
    """Image resize via mapInPandas — the Arrow-batched shape a real
    PIL/opencv resize would use (one batch in, one batch out, bounded
    memory per partition regardless of corpus size).

    ``fake=True`` emits a deterministic strided-downsample of the raw
    payload bytes sized ``width*height``. ``fake=False`` is REAL for
    BMP payloads: ``decode_bmp24`` reads the pixels and
    ``gray_resize_area`` box-filters them to a ``width×height``
    row-major GRAYSCALE byte strip (exact integer luma averaging — the
    preprocessing shape that feeds ``gray_dhash``); non-BMP payloads
    raise DecoderUnavailable (external-codec formats only).
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        target = width * height
        for pdf in batches:
            if fake:
                def shrink(b):
                    if b is None or len(b) == 0:
                        return b""
                    step = max(len(b) // target, 1)
                    return bytes(b[::step][:target])
            else:
                def shrink(b):
                    if b is None or len(b) < 2 or bytes(b[:2]) != b"BM":
                        raise DecoderUnavailable(
                            "real resize for non-BMP payloads needs an "
                            "image codec library"
                        )
                    w, h, px = decode_bmp24(bytes(b))
                    return gray_resize_area(px, w, h, width, height)

            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "out_width": width,
                    "out_height": height,
                    "payload": pdf["payload"].map(shrink),
                }
            )

    return media.select("media_id", "payload").mapInPandas(op, _RESIZE_SCHEMA)


def audio_chunk_plan(
    media: DataFrame, chunk_ms: int = 1000, bytes_per_ms: int = 16
) -> DataFrame:
    """Audio chunking plumbing: expand each payload into fixed-duration
    chunk rows with byte offsets (duration derived from payload size at
    a declared byterate — the decode itself is the stubbed step).

    Same explode-then-process shape as frame sampling: chunk work is
    parallel across the cluster instead of per-file, and each chunk row
    carries (offset, length) so a real decoder reads its slice only.
    """
    chunk_bytes = chunk_ms * bytes_per_ms
    n_chunks = F.greatest(
        F.ceil(F.length("payload") / F.lit(chunk_bytes)).cast("int"), F.lit(1)
    )
    idx = F.sequence(F.lit(0), n_chunks - 1)
    return media.select(
        "media_id", F.length("payload").alias("n_bytes"), F.explode(idx).alias("chunk_index")
    ).select(
        "media_id",
        "chunk_index",
        (F.col("chunk_index") * chunk_bytes).cast("long").alias("byte_offset"),
        F.least(
            F.lit(chunk_bytes).cast("long"),
            F.col("n_bytes") - F.col("chunk_index") * chunk_bytes,
        ).alias("byte_length"),
    )


# --- real (lib-free) binary header codec: PNG signature + IHDR -------
#
# The decode paths above stub CODEC calls (pixel decoding needs PIL et
# al.), but container-header parsing needs nothing beyond byte ops —
# and at 100 TB it is the multimodal step that should run JVM-side
# anyway: dimension/format extraction over billions of images must not
# pay a Python round-trip per row. These two operators are the real
# thing: bytes in, bytes parsed, zero Python, zero libraries.

_PNG_SIG_HEX = "89504E470D0A1A0A"  # \x89PNG\r\n\x1a\n
_IHDR_HEX = "49484452"             # "IHDR"


def synthesize_png(
    df: DataFrame,
    id_col: str = "media_id",
    width_col: str = "width_px",
    height_col: str = "height_px",
) -> DataFrame:
    """Build a REAL minimal PNG byte stream per row — 8-byte signature
    + IHDR chunk (length, type, 4-byte big-endian width/height, bit
    depth 8 / RGBA / default compression-filter-interlace, zeroed CRC)
    — entirely JVM-side: hex assembly via format_string, then one
    unhex to binary. 33 bytes per payload."""
    hex_str = F.concat(
        F.lit(_PNG_SIG_HEX),
        F.lit("0000000D"),          # IHDR data length = 13
        F.lit(_IHDR_HEX),
        F.format_string("%08x", F.col(width_col)),
        F.format_string("%08x", F.col(height_col)),
        F.lit("0806000000"),        # bit depth 8, color type 6, c/f/i 0
        F.lit("00000000"),          # CRC (not validated by the parser)
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def png_header_dims(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Parse PNG dimensions from raw bytes — signature check, IHDR
    chunk-type check, big-endian width/height extraction — with binary
    substring + hex + base-16 conv only (whole-stage-codegen'd; the
    shape that scans a billion thumbnails without leaving the JVM).
    Returns (id, n_bytes, png_sig_ok, width_px, height_px); dims are
    null when either check fails."""
    p = F.col(payload_col)
    sig_ok = (
        F.substring(p, 1, 8) == F.unhex(F.lit(_PNG_SIG_HEX))
    ) & (F.substring(p, 13, 4) == F.unhex(F.lit(_IHDR_HEX)))
    be32 = lambda pos: F.conv(F.hex(F.substring(p, pos, 4)), 16, 10).cast("long")
    return media.select(
        F.col(id_col),
        F.length(p).alias("n_bytes"),
        sig_ok.alias("png_sig_ok"),
        F.when(sig_ok, be32(17)).alias("width_px"),
        F.when(sig_ok, be32(21)).alias("height_px"),
    )


# --- real (lib-free) binary header codec: WAV/RIFF, little-endian ----
#
# The PNG codec above parses big-endian fields; WAV's RIFF container is
# LITTLE-endian, which needs an explicit byte-swap — done on the hex
# string (pair reordering via substring+concat), still 100% JVM column
# expressions. Same 100 TB rationale: audio-format sweeps over billions
# of clips must not pay a Python round-trip for header fields.

_RIFF_HEX = "52494646"       # "RIFF"
_WAVEFMT_HEX = "57415645666D7420"  # "WAVEfmt "
_DATA_HEX = "64617461"       # "data"


def _le32_hex(v: F.Column) -> F.Column:
    """8-hex-digit little-endian encoding of an integer column."""
    be = F.format_string("%08x", v)
    return F.concat(
        F.substring(be, 7, 2), F.substring(be, 5, 2),
        F.substring(be, 3, 2), F.substring(be, 1, 2),
    )


def _le16_hex(v: F.Column) -> F.Column:
    be = F.format_string("%04x", v)
    return F.concat(F.substring(be, 3, 2), F.substring(be, 1, 2))


def _le_read(payload: F.Column, pos: int, nbytes: int) -> F.Column:
    """Read an unsigned little-endian integer from binary: hex the byte
    slice, reorder pairs to big-endian, conv base16 → long."""
    h = F.hex(F.substring(payload, pos, nbytes))
    swapped = F.concat(
        *[F.substring(h, 2 * i + 1, 2) for i in range(nbytes - 1, -1, -1)]
    )
    return F.conv(swapped, 16, 10).cast("long")


def _pcm16_samples(payload: F.Column) -> tuple[F.Column, F.Column]:
    """``(n_samples, samples)`` of a mono 16-bit PCM WAV payload: the
    data-chunk size over 2, and the decoded sample array (long). Each
    sample is a hex byte-swap + two's-complement read."""
    hx = F.hex(payload)
    n = (_le_read(payload, 41, 4) / F.lit(2)).cast("long")

    def sample_at(j: F.Column) -> F.Column:
        # sample j (1-based) occupies bytes 44+2(j-1)..+1 → hex chars
        # at position 4j+85, length 4 (1-based); LE pair swap, then
        # two's complement
        chunk = F.substr(hx, j * 4 + 85, F.lit(4))
        swapped = F.concat(
            F.substring(chunk, 3, 2), F.substring(chunk, 1, 2)
        )
        u = F.conv(swapped, 16, 10).cast("long")
        return F.when(u < 32768, u).otherwise(u - 65536)

    return n, F.transform(F.sequence(F.lit(1).cast("long"), n), sample_at)


def synthesize_wav(
    df: DataFrame,
    id_col: str = "media_id",
    rate_col: str = "sample_rate_hz",
    channels_col: str = "n_channels",
    bits_col: str = "bits_per_sample",
    samples_col: str = "n_samples",
) -> DataFrame:
    """Build a REAL canonical 44-byte PCM WAV header per row (RIFF size,
    WAVEfmt, PCM fmt chunk with channels/rate/byte-rate/block-align/
    bits, data chunk size as if ``n_samples`` frames followed) —
    header-only payload; sample data stays out of scope like the other
    decode stubs. Hex assembly + one unhex, entirely JVM-side."""
    ch = F.col(channels_col)
    rate = F.col(rate_col)
    bits = F.col(bits_col)
    block_align = ch * (bits / F.lit(8)).cast("long")
    byte_rate = rate * block_align
    data_size = F.col(samples_col) * block_align
    hex_str = F.concat(
        F.lit(_RIFF_HEX),
        _le32_hex(data_size + F.lit(36)),
        F.lit(_WAVEFMT_HEX),
        _le32_hex(F.lit(16)),          # PCM fmt chunk length
        _le16_hex(F.lit(1)),           # audio format 1 = PCM
        _le16_hex(ch),
        _le32_hex(rate),
        _le32_hex(byte_rate),
        _le16_hex(block_align),
        _le16_hex(bits),
        F.lit(_DATA_HEX),
        _le32_hex(data_size),
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def wav_header_meta(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Parse WAV/RIFF header fields from raw bytes — RIFF/WAVEfmt/data
    magic checks plus little-endian u16/u32 extraction (hex byte-swap +
    conv), whole-stage-codegen'd. Returns (id, n_bytes, wav_sig_ok,
    n_channels, sample_rate_hz, bits_per_sample, byte_rate,
    block_align, data_bytes); fields are null when the checks fail."""
    p = F.col(payload_col)
    sig_ok = (
        (F.substring(p, 1, 4) == F.unhex(F.lit(_RIFF_HEX)))
        & (F.substring(p, 9, 8) == F.unhex(F.lit(_WAVEFMT_HEX)))
        & (F.substring(p, 37, 4) == F.unhex(F.lit(_DATA_HEX)))
        & (_le_read(p, 21, 2) == 1)  # PCM only
    )
    return media.select(
        F.col(id_col),
        F.length(p).alias("n_bytes"),
        sig_ok.alias("wav_sig_ok"),
        F.when(sig_ok, _le_read(p, 23, 2)).alias("n_channels"),
        F.when(sig_ok, _le_read(p, 25, 4)).alias("sample_rate_hz"),
        F.when(sig_ok, _le_read(p, 35, 2)).alias("bits_per_sample"),
        F.when(sig_ok, _le_read(p, 29, 4)).alias("byte_rate"),
        F.when(sig_ok, _le_read(p, 33, 2)).alias("block_align"),
        F.when(sig_ok, _le_read(p, 41, 4)).alias("data_bytes"),
    )


def synthesize_wav_pcm(
    df: DataFrame,
    id_col: str = "media_id",
    rate_col: str = "sample_rate_hz",
    samples_col: str = "n_samples",
    amp_col: str = "amp",
    step_col: str = "step",
    phase_col: str = "phase",
    burst_col: str | None = None,
) -> DataFrame:
    """Build a complete mono 16-bit PCM WAV per row — the real 44-byte
    header AND real sample data: a deterministic integer sawtooth
    ``s_i = ((i*step + phase) % (2*amp)) - amp`` encoded as signed
    little-endian int16 (two's complement via +65536 on negatives).
    Entirely JVM column expressions: per-sample hex via a bounded
    ``transform`` over ``sequence``, one concat, one unhex. Extends
    ``synthesize_wav`` (header-only) so downstream DSP operators have
    actual PCM bytes to decode — no Python, no audio libs.

    ``burst_col`` (optional): gate period in samples — the signal is
    silenced on every other burst (``(i div burst) % 2 == 1`` →
    sample 0), producing speech-pause-like activity patterns for VAD
    testing. When None (default) the expression is UNCHANGED from the
    ungated form, so existing query plans are untouched."""
    rate = F.col(rate_col)
    ns = F.col(samples_col).cast("long")
    amp = F.col(amp_col).cast("long")
    step = F.col(step_col).cast("long")
    phase = F.col(phase_col).cast("long")
    burst = F.col(burst_col).cast("long") if burst_col else None
    data_size = ns * 2  # mono, 16-bit
    block_align = F.lit(2).cast("long")
    byte_rate = rate * 2

    def sample16(i: F.Column) -> F.Column:
        s = (i * step + phase) % (2 * amp) - amp
        if burst is not None:
            # gate on ⇔ (i div burst) even ⇔ i mod 2·burst < burst —
            # pure integer arithmetic, no float division
            s = F.when(i % (2 * burst) < burst, s).otherwise(
                F.lit(0).cast("long")
            )
        u = F.when(s < 0, s + 65536).otherwise(s)
        return _le16_hex(u)

    # Guard ns=0: sequence(0, -1) is a DESCENDING 2-element array
    # [0,-1] in Spark, which would emit 4 bogus sample bytes while the
    # header's data_size said 0 (and amp=0 would null the payload via
    # modulo-by-zero) — an empty clip must be header-only.
    data_hex = F.when(
        ns > 0,
        F.array_join(
            F.transform(
                F.sequence(F.lit(0).cast("long"), ns - 1), sample16
            ),
            "",
        ),
    ).otherwise(F.lit(""))
    hex_str = F.concat(
        F.lit(_RIFF_HEX),
        _le32_hex(data_size + F.lit(36)),
        F.lit(_WAVEFMT_HEX),
        _le32_hex(F.lit(16)),
        _le16_hex(F.lit(1)),           # PCM
        _le16_hex(F.lit(1)),           # mono
        _le32_hex(rate),
        _le32_hex(byte_rate),
        _le16_hex(block_align),
        _le16_hex(F.lit(16)),          # bits per sample
        F.lit(_DATA_HEX),
        _le32_hex(data_size),
        data_hex,
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def wav_pcm_stats(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Decode a mono 16-bit PCM WAV's samples FROM ITS BYTES and
    compute exact DSP statistics, all in-row (no explode — per-clip
    work is bounded by the clip itself, the shape that scales to
    billions of clips): peak absolute amplitude, exact integer energy
    (sum of squares), zero-crossing count, and RMS in milli-units
    (``floor(sqrt(sum_sq/n)*1000)`` — identical exact integer operands
    give identical IEEE doubles cross-engine, and floor has no tie
    semantics). Sample decode is the hex byte-swap + two's-complement
    read over a ``transform``; the whole path is whole-stage-codegen'd
    column expressions."""
    p = F.col(payload_col)
    n, samples = _pcm16_samples(p)
    sum_sq = F.aggregate(
        samples,
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    zc = F.aggregate(
        F.zip_with(
            F.slice(samples, F.lit(1), n - 1),
            F.slice(samples, F.lit(2), n - 1),
            lambda a, b: F.when(a * b < 0, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return media.select(
        F.col(id_col),
        _le_read(p, 25, 4).alias("sample_rate_hz"),
        n.alias("n_samples"),
        F.array_max(F.transform(samples, lambda x: F.abs(x))).alias(
            "peak_abs"
        ),
        sum_sq.alias("sum_sq"),
        zc.alias("zero_crossings"),
        F.floor(
            F.sqrt(sum_sq.cast("double") / n.cast("double")) * 1000
        )
        .cast("long")
        .alias("rms_milli"),
    )


def wav_pcm_autocorr(
    media: DataFrame,
    lags: tuple[int, ...] = (1, 2, 4),
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Exact integer AUTOCORRELATION of a mono 16-bit PCM WAV at fixed
    lags, decoded in-row from the payload bytes (same hex byte-swap +
    two's-complement read as wav_pcm_stats) — the periodicity /
    pitch-detection primitive of audio curation: a clip whose lag-L
    autocorrelation is near its energy is L-periodic (loop/beep
    detection at corpus scale). ``r{L} = Σ s_i·s_{i+L}`` is an exact
    integer; the normalized ``ac{L}_milli = r{L}*1000 div r0``
    truncates toward zero IDENTICALLY in Spark's ``div`` and DuckDB's
    ``//`` even for negative numerators (the theil_sen lesson), so the
    whole report is hash-checkable. In-row transform/aggregate only —
    per-clip cost bounded by the clip, no explode. The decoded sample
    array is STAGED once (a select boundary) before the per-lag
    aggregates — referencing the decode expression per lag would
    re-inline it per use (the Catalyst re-inlining trap noted at
    gopher_rules), re-decoding every sample 1+2·|lags| times."""
    n, s = _pcm16_samples(F.col(payload_col))
    decoded = media.select(F.col(id_col), n.alias("_n"), s.alias("_s"))
    samples = F.col("_s")
    nn = F.col("_n")
    r0 = F.aggregate(
        samples, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )

    def r_lag(lag: int) -> F.Column:
        prod = F.zip_with(
            F.slice(samples, F.lit(1), nn - lag),
            F.slice(samples, F.lit(1 + lag), nn - lag),
            lambda a, b: a * b,
        )
        s = F.aggregate(
            prod, F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        return F.when(nn > lag, s).otherwise(F.lit(0).cast("long"))

    staged = decoded.select(
        F.col(id_col),
        nn.alias("n_samples"),
        r0.alias("r0"),
        *[r_lag(lag).alias(f"r{lag}") for lag in lags],
    )
    return staged.select(
        id_col,
        "n_samples",
        "r0",
        *[F.col(f"r{lag}") for lag in lags],
        *[
            F.when(
                F.col("r0") > 0,
                F.expr(f"r{lag} * 1000 div r0"),
            ).otherwise(F.lit(0).cast("long")).alias(f"ac{lag}_milli")
            for lag in lags
        ],
    )


# --- real (lib-free) binary codec #3: JPEG/JFIF, marker-walking ------
#
# PNG and WAV parse FIXED offsets; JPEG's container is a sequence of
# VARIABLE-LENGTH segments (FFxx marker, u16 big-endian length, data),
# so finding SOF0 (frame dimensions) requires actually WALKING the
# segment chain. The walk is a bounded fold (F.aggregate over a small
# sequence) carrying (pos, h, w) struct state — still 100% JVM column
# expressions, whole-stage-codegen'd, no Python per row.

_JPEG_APP0_HEX = "FFE000104A46494600010100004800480000"  # APP0/JFIF, len 16


def synthesize_jpeg(
    df: DataFrame,
    id_col: str = "media_id",
    width_col: str = "width_px",
    height_col: str = "height_px",
    comment_len_col: str = "comment_len",
) -> DataFrame:
    """Build a minimal JFIF byte stream per row: SOI, APP0/JFIF, a
    VARIABLE-length COM segment (``comment_len`` bytes — the hurdle
    that forces real marker walking), a 3-byte DQT stub (length field
    honest, table bytes stubbed — this is a container test, not an
    entropy coder), an SOF0 with real big-endian height/width and 3
    components, and EOI. Hex assembly + one unhex, JVM-side."""
    nc = F.col(comment_len_col).cast("long")
    com_char = F.format_string("%02x", F.lit(0x41) + F.col(id_col) % 26)
    com_hex = F.substr(F.repeat(com_char, 32), F.lit(1), nc * 2)
    hex_str = F.concat(
        F.lit("FFD8"),                      # SOI
        F.lit(_JPEG_APP0_HEX),
        F.lit("FFFE"),                      # COM
        F.format_string("%04x", nc + 2),
        com_hex,
        F.lit("FFDB0005000102"),            # DQT stub, len 5
        F.lit("FFC00011"),                  # SOF0, len 17
        F.lit("08"),                        # precision
        F.format_string("%04x", F.col(height_col)),
        F.format_string("%04x", F.col(width_col)),
        F.lit("03011100021101031101"),      # 3 components
        F.lit("FFD9"),                      # EOI
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def jpeg_sof_dims(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_segments: int = 8,
) -> DataFrame:
    """Parse JPEG frame dimensions by WALKING the segment chain from
    raw bytes: verify SOI, then fold up to ``max_segments`` steps of
    "read FFxx marker + u16 BE length; if SOF0 capture height/width,
    else skip length bytes". State is a (pos, h, w) struct through
    ``F.aggregate`` — variable-length container parsing as a pure
    column expression. Returns (id, n_bytes, jpeg_sig_ok, sof_pos,
    height_px, width_px); sof_pos is the 1-based byte offset of the
    SOF0 marker, which proves the walk crossed every variable-length
    segment before it. Null dims when SOI is absent or SOF0 isn't
    found within the fold bound."""
    p = F.col(payload_col)

    def u8(pos: F.Column) -> F.Column:
        return F.conv(F.hex(F.substr(p, pos, F.lit(1))), 16, 10).cast("long")

    def be16(pos: F.Column) -> F.Column:
        return F.conv(F.hex(F.substr(p, pos, F.lit(2))), 16, 10).cast("long")

    sig_ok = F.substring(p, 1, 2) == F.unhex(F.lit("FFD8"))

    def step(acc: F.Column, _: F.Column) -> F.Column:
        pos = acc["pos"]
        done = acc["h"].isNotNull() | (pos < 0)
        valid = u8(pos) == 0xFF
        is_sof = valid & (u8(pos + 1) == 0xC0)
        seglen = be16(pos + 2)
        newpos = (
            F.when(done | is_sof, pos)
            .when(~valid, F.lit(-1).cast("long"))
            .otherwise(pos + 2 + seglen)
        )
        newh = F.when(done, acc["h"]).when(is_sof, be16(pos + 5))
        neww = F.when(done, acc["w"]).when(is_sof, be16(pos + 7))
        return F.struct(
            newpos.alias("pos"), newh.alias("h"), neww.alias("w")
        )

    init = F.struct(
        F.lit(3).cast("long").alias("pos"),
        F.lit(None).cast("long").alias("h"),
        F.lit(None).cast("long").alias("w"),
    )
    state = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_segments)), init, step
    )
    found = sig_ok & state["h"].isNotNull()
    return media.select(
        F.col(id_col),
        F.length(p).alias("n_bytes"),
        sig_ok.alias("jpeg_sig_ok"),
        F.when(found, state["pos"]).alias("sof_pos"),
        F.when(found, state["h"]).alias("height_px"),
        F.when(found, state["w"]).alias("width_px"),
    )


# --- real (lib-free) binary codec #4: MP4/ISO-BMFF box walk ----------
#
# Completes the image(PNG fixed / JPEG marker-walk) + audio(WAV) +
# VIDEO triad. ISO-BMFF is a sequence of (u32 big-endian size, 4-char
# type) boxes; finding the movie header means walking top-level boxes
# to 'moov' and reading its first child 'mvhd' (version, timescale,
# duration). Same bounded-fold shape as the JPEG walk.

_FTYP_HEX = "000000106674797069736F6D00000000"  # 16-byte ftyp/isom


def synthesize_mp4(
    df: DataFrame,
    id_col: str = "media_id",
    timescale_col: str = "timescale",
    duration_col: str = "duration",
    pad_col: str = "pad_len",
) -> DataFrame:
    """Build a minimal ISO-BMFF stream per row: ftyp, a VARIABLE-size
    ``free`` box (``pad_len`` filler bytes — forces real box walking),
    and a moov whose first child is an mvhd carrying version/flags,
    create/modify times (zeroed), and real big-endian timescale +
    duration. The mvhd is truncated after the duration field with an
    honest size field (28) — a container-walk test, not a full movie
    header (spec v0 is 100 data bytes). Hex assembly + one unhex."""
    nc = F.col(pad_col).cast("long")
    pad_hex = F.substr(F.repeat(F.lit("00"), 64), F.lit(1), nc * 2)
    mvhd_hex = F.concat(
        F.lit("0000001C6D766864"),           # size 28, 'mvhd'
        F.lit("00000000"),                    # version 0 + flags
        F.lit("00000000" "00000000"),         # ctime, mtime
        F.format_string("%08x", F.col(timescale_col)),
        F.format_string("%08x", F.col(duration_col)),
    )
    hex_str = F.concat(
        F.lit(_FTYP_HEX),
        F.format_string("%08x", nc + 8),      # free box size
        F.lit("66726565"),                    # 'free'
        pad_hex,
        F.lit("000000246D6F6F76"),            # moov: size 36, 'moov'
        mvhd_hex,
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def mp4_mvhd_meta(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_boxes: int = 8,
) -> DataFrame:
    """Parse movie-header fields by WALKING top-level ISO-BMFF boxes
    from raw bytes: verify the stream opens with ftyp, fold up to
    ``max_boxes`` steps of "read u32 size + 4cc type; stop at moov,
    else skip size bytes" (aborting on size < 8, which would loop),
    then require moov's first child to be mvhd and read big-endian
    timescale/duration. Returns (id, n_bytes, mp4_sig_ok, moov_pos,
    timescale, duration, duration_ms); nulls when the walk fails."""
    p = F.col(payload_col)

    def be32(pos: F.Column) -> F.Column:
        return F.conv(F.hex(F.substr(p, pos, F.lit(4))), 16, 10).cast("long")

    sig_ok = F.substring(p, 5, 4) == F.unhex(F.lit("66747970"))

    def step(acc: F.Column, _: F.Column) -> F.Column:
        pos = acc["pos"]
        done = acc["moov"].isNotNull() | (pos < 0)
        size = be32(pos)
        is_moov = F.substr(p, pos + 4, F.lit(4)) == F.unhex(
            F.lit("6D6F6F76")
        )
        bad = (size < 8) | (pos + size > F.length(p) + 1)
        newpos = (
            F.when(done, pos)
            .when(is_moov, pos)
            .when(bad, F.lit(-1).cast("long"))
            .otherwise(pos + size)
        )
        newmoov = F.when(done, acc["moov"]).when(is_moov, pos)
        return F.struct(newpos.alias("pos"), newmoov.alias("moov"))

    init = F.struct(
        F.lit(1).cast("long").alias("pos"),
        F.lit(None).cast("long").alias("moov"),
    )
    state = F.aggregate(F.sequence(F.lit(1), F.lit(max_boxes)), init, step)
    moov = state["moov"]
    mvhd_ok = F.substr(p, moov + 12, F.lit(4)) == F.unhex(
        F.lit("6D766864")
    )
    found = sig_ok & moov.isNotNull() & mvhd_ok
    ts = be32(moov + 28)
    dur = be32(moov + 32)
    return media.select(
        F.col(id_col),
        F.length(p).alias("n_bytes"),
        sig_ok.alias("mp4_sig_ok"),
        F.when(found, moov).alias("moov_pos"),
        F.when(found, ts).alias("timescale"),
        F.when(found, dur).alias("duration"),
        # exact integer floor-division: subtract the remainder first so
        # the double divide is exact (numerator divisible by ts)
        F.when(found & (ts > 0), (dur * 1000 - (dur * 1000) % ts) / ts)
        .cast("long")
        .alias("duration_ms"),
    )


# --- real (lib-free) binary header codec: GIF, mixed-endian ----------
#
# GIF87a/89a rounds out the image side of the codec family: the magic
# is ASCII ("GIF" + version), the logical-screen dimensions are
# LITTLE-endian u16 (reusing the RIFF byte-swap helpers), and the
# packed flags byte needs BIT-level decoding (global-color-table flag,
# color resolution, GCT size exponent) — the one header shape the
# PNG/WAV/MP4 codecs don't cover. Same 100 TB rationale: format sweeps
# over billions of stored images stay whole-stage-codegen'd JVM column
# expressions, no Python round-trip, no imaging library.

_GIF89A_HEX = "474946383961"  # "GIF89a"


def synthesize_gif(
    df: DataFrame,
    id_col: str = "media_id",
    width_col: str = "width_px",
    height_col: str = "height_px",
    color_res_col: str = "color_res",
    gct_exp_col: str = "gct_exp",
    bg_col: str = "bg_index",
) -> DataFrame:
    """Build a REAL minimal GIF89a byte stream per row — 6-byte
    signature + 7-byte logical screen descriptor (little-endian u16
    width/height, packed byte with GCT flag set, the given color
    resolution (0-7) and GCT size exponent (0-7), background index,
    aspect 0) — hex assembly + one unhex, 13 bytes per payload."""
    packed = (
        F.lit(128)
        + F.col(color_res_col).cast("long") * 16
        + F.col(gct_exp_col).cast("long")
    )
    hex_str = F.concat(
        F.lit(_GIF89A_HEX),
        _le16_hex(F.col(width_col)),
        _le16_hex(F.col(height_col)),
        F.format_string("%02x", packed),
        F.format_string("%02x", F.col(bg_col).cast("long")),
        F.lit("00"),                   # pixel aspect ratio: unspecified
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def gif_screen_meta(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Parse the GIF logical screen descriptor from raw bytes:
    signature check ("GIF89a"), little-endian u16 width/height
    (hex-pair swap + conv), and bit-decode of the packed byte —
    gct_flag = bit 7, color_res = bits 6-4 (+1 = bits/pixel), gct
    entries = 2^(exp+1) when the flag is set. Pure binary substring /
    hex / conv / integer arithmetic — whole-stage-codegen'd.
    Returns (id, n_bytes, gif_sig_ok, width_px, height_px, color_res,
    gct_entries, bg_index); fields null when the signature fails."""
    p = F.col(payload_col)
    sig_ok = F.substring(p, 1, 6) == F.unhex(F.lit(_GIF89A_HEX))
    packed = F.conv(F.hex(F.substring(p, 11, 1)), 16, 10).cast("long")
    gct_flag = (packed - packed % 128) / 128  # bit 7 as exact 0/1
    gct_exp = packed % 8
    return media.select(
        F.col(id_col),
        F.length(p).alias("n_bytes"),
        sig_ok.alias("gif_sig_ok"),
        F.when(sig_ok, _le_read(p, 7, 2)).alias("width_px"),
        F.when(sig_ok, _le_read(p, 9, 2)).alias("height_px"),
        F.when(sig_ok, ((packed % 128 - packed % 16) / 16).cast("long"))
        .alias("color_res"),
        F.when(
            sig_ok & (gct_flag > 0),
            F.pow(F.lit(2.0), gct_exp + 1).cast("long"),
        )
        .otherwise(F.when(sig_ok, F.lit(0).cast("long")))
        .alias("gct_entries"),
        F.when(
            sig_ok, F.conv(F.hex(F.substring(p, 12, 1)), 16, 10).cast("long")
        ).alias("bg_index"),
    )


# --- real (lib-free) perceptual hash: dHash over raw grayscale -------
#
# The PNG/JPEG/GIF codecs parse container HEADERS; this pair goes one
# level deeper and computes a real perceptual hash over PIXEL BYTES: a
# difference hash (dHash) — bit (r,c) set iff pixel(r,c) < pixel(r,c+1)
# on an 8-row × 9-column grayscale strip, the standard 64-bit
# near-duplicate-image fingerprint. Payloads are raw 72-byte strips
# (the shape a resize/grayscale preprocessing stage emits), and both
# synthesis and hashing are whole-stage JVM column expressions — the
# 100 TB pattern for perceptual dedup over billions of thumbnails.


def synthesize_gray8x9(
    df: DataFrame, id_col: str = "media_id", seed_col: str = "img_seed"
) -> DataFrame:
    """Build a REAL 72-byte raw grayscale strip (8 rows × 9 cols,
    row-major) per row: pixel(r,c) = (seed*7 + r*9 + c*13) % 256 — a
    deterministic gradient pattern whose dHash is seed-dependent, so
    equal seeds give byte-identical images (near-dup clusters by
    construction). Hex assembly via one bounded transform + unhex."""
    seed = F.col(seed_col).cast("long")

    def px(i: F.Column) -> F.Column:
        r = ((i - i % 9) / 9).cast("long")
        c = i % 9
        return F.format_string("%02x", (seed * 7 + r * 9 + c * 13) % 256)

    hex_str = F.array_join(
        F.transform(F.sequence(F.lit(0).cast("long"), F.lit(71).cast("long")), px),
        "",
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def gray_dhash(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Compute the 64-bit dHash from raw 8×9 grayscale bytes — 64
    adjacent-pixel comparisons, each reading two payload bytes with
    binary substring + hex + conv. Returned as two BIGINTs (rows 0-3 →
    dhash_lo bits 0-31, rows 4-7 → dhash_hi bits 0-31) so no bit ever
    lands in the int64 sign position. Static 64-term column
    expressions; intended for well-formed 72-byte payloads — a
    truncated payload's missing bytes read as unset bits (n_bytes
    exposes the length for callers that need to gate)."""
    p = F.col(payload_col)

    def byte_at(r: int, c: int) -> F.Column:
        return F.conv(
            F.hex(F.substring(p, r * 9 + c + 1, 1)), 16, 10
        ).cast("long")

    def half(rows: range) -> F.Column:
        acc = F.lit(0).cast("long")
        for r in rows:
            for c in range(8):
                k = (r % 4) * 8 + c
                acc = acc + F.when(
                    byte_at(r, c) < byte_at(r, c + 1), F.lit(1 << k)
                ).otherwise(0).cast("long")
        return acc

    return media.select(
        F.col(id_col),
        F.length(p).alias("n_bytes"),
        half(range(0, 4)).alias("dhash_lo"),
        half(range(4, 8)).alias("dhash_hi"),
    )


# --- real (lib-free) FULL raster codec: BMP, encode + decode ---------
#
# The header codecs above stop at container metadata; this section
# closes the loop on one REAL end-to-end raster path with zero
# external libraries: a complete 24-bit uncompressed BMP
# (BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up, 4-byte-padded BGR
# rows) is synthesized as JVM column expressions, and
# ``decode_bmp24`` reads the pixels back in plain-stdlib Python inside
# the Arrow-batched ``extract_features(fake=False)`` path — so the
# "decode + featurize" step of the multimodal pipeline runs on real
# decoded pixels, and ``DecoderUnavailable`` is reserved for formats
# that genuinely need an external codec (JPEG entropy decode, video).
# BMP is the right format for this: fixed little-endian offsets, no
# compression, but real traps (bottom-up row order, per-row padding,
# BGR channel order, negative-height top-down variant) that a fake
# would never exercise.

_BMP_MAGIC_HEX = "424D"  # "BM"


def synthesize_bmp24(
    df: DataFrame,
    id_col: str = "media_id",
    width_col: str = "width_px",
    height_col: str = "height_px",
    seed_col: str = "img_seed",
) -> DataFrame:
    """Build a COMPLETE, spec-valid 24-bit BMP per row — 14-byte file
    header, 40-byte BITMAPINFOHEADER, then height bottom-up pixel rows
    of BGR triples each padded to a 4-byte boundary — entirely JVM
    column expressions (nested transform over sequences, hex assembly,
    one unhex). Pixel channels follow the deterministic gradient
        r = (seed*7  + x*13 + y*31) % 256
        g = (seed*11 + x*3  + y*17) % 256
        b = (seed*5  + x*19 + y*23) % 256
    with (x, y) in TOP-DOWN image coordinates — the encoder emits rows
    bottom-up as the positive-height BMP spec requires, so a decoder
    that forgets to flip reads a vertically mirrored image (and fails
    the oracle). Distinct channel formulas also catch BGR/RGB swaps."""
    w = F.col(width_col).cast("long")
    h = F.col(height_col).cast("long")
    seed = F.col(seed_col).cast("long")
    stride = ((w * 3 + 3) / 4).cast("long") * 4
    pad = stride - w * 3

    def px_hex(x: F.Column, y: F.Column) -> F.Column:
        # file order is B, G, R
        return F.concat(
            F.format_string("%02x", (seed * 5 + x * 19 + y * 23) % 256),
            F.format_string("%02x", (seed * 11 + x * 3 + y * 17) % 256),
            F.format_string("%02x", (seed * 7 + x * 13 + y * 31) % 256),
        )

    def row_hex(y: F.Column) -> F.Column:
        return F.concat(
            F.array_join(
                F.transform(F.sequence(F.lit(0).cast("long"), w - 1),
                            lambda x: px_hex(x, y)),
                "",
            ),
            F.repeat(F.lit("00"), pad.cast("int")),
        )

    # bottom-up: last image row (y = h-1) first in the file
    data_hex = F.array_join(
        F.transform(
            F.sequence(h - 1, F.lit(0).cast("long"), F.lit(-1).cast("long")),
            row_hex,
        ),
        "",
    )
    hex_str = F.concat(
        F.lit(_BMP_MAGIC_HEX),
        _le32_hex(stride * h + 54),   # total file size
        _le32_hex(F.lit(0)),          # reserved
        _le32_hex(F.lit(54)),         # pixel data offset
        _le32_hex(F.lit(40)),         # BITMAPINFOHEADER size
        _le32_hex(w),
        _le32_hex(h),                 # positive => bottom-up
        _le16_hex(F.lit(1)),          # planes
        _le16_hex(F.lit(24)),         # bits per pixel
        _le32_hex(F.lit(0)),          # BI_RGB (uncompressed)
        _le32_hex(stride * h),        # image size
        _le32_hex(F.lit(2835)),       # x pixels/metre (96 dpi)
        _le32_hex(F.lit(2835)),       # y pixels/metre
        _le32_hex(F.lit(0)),          # colors used
        _le32_hex(F.lit(0)),          # important colors
        data_hex,
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def decode_bmp24(buf: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Pure-stdlib 24-bit BMP pixel decoder (the REAL decode step of
    ``extract_features(fake=False)``): validates the BM magic, the
    BITMAPINFOHEADER, bpp 24 and BI_RGB, honors the header's pixel
    offset and per-row 4-byte padding, flips bottom-up storage (and
    accepts the negative-height top-down variant) and swaps file-order
    BGR to RGB. Returns ``(width, height, pixels)`` with pixels
    row-major TOP-DOWN as ``(r, g, b)`` tuples. Raises ValueError on
    malformed input — DecoderUnavailable is only for formats that need
    an external codec library."""
    import struct

    if len(buf) < 54 or buf[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_off,) = struct.unpack_from("<I", buf, 10)
    (hdr_size, w, h_raw) = struct.unpack_from("<IiI", buf, 14)
    # height is signed: negative means top-down row order
    (h_signed,) = struct.unpack_from("<i", buf, 22)
    (planes, bpp) = struct.unpack_from("<HH", buf, 26)
    (compression,) = struct.unpack_from("<I", buf, 30)
    if hdr_size < 40 or planes != 1:
        raise ValueError(f"unsupported BMP header (size={hdr_size})")
    if bpp != 24 or compression != 0:
        raise ValueError(
            f"only 24-bit uncompressed BMP supported (bpp={bpp}, "
            f"compression={compression})"
        )
    top_down = h_signed < 0
    h = -h_signed if top_down else h_signed
    if w <= 0 or h <= 0:
        raise ValueError(f"bad BMP dimensions {w}x{h_signed}")
    stride = (w * 3 + 3) // 4 * 4
    if len(buf) < data_off + stride * h:
        raise ValueError("truncated BMP pixel data")
    rows = []
    for file_row in range(h):
        base = data_off + file_row * stride
        row = []
        for x in range(w):
            b, g, r = buf[base + 3 * x: base + 3 * x + 3]
            row.append((r, g, b))
        rows.append(row)
    if not top_down:
        rows.reverse()  # file is bottom-up; return top-down
    return w, h, [px for row in rows for px in row]


def bmp_pixel_features(pixels: list[tuple[int, int, int]], w: int,
                       h: int) -> tuple[int, int, int]:
    """Exact integer features over decoded RGB pixels (shared by the
    real ``extract_features`` path and its tests): integer luma
    ``299r + 587g + 114b`` per pixel, then
      f0 = floor(mean luma), f1 = floor(population variance of luma),
      f2 = floor(1000 * #increasing-horizontal-neighbor-pairs
                 / (h * (w - 1))).
    All values are exact integers well inside 2^53, so they survive a
    DOUBLE column bit-exactly in any engine."""
    lum = [299 * r + 587 * g + 114 * b for (r, g, b) in pixels]
    n = w * h
    s = sum(lum)
    s2 = sum(v * v for v in lum)
    inc = sum(
        1
        for y in range(h)
        for x in range(w - 1)
        if lum[y * w + x + 1] > lum[y * w + x]
    )
    f0 = s // n
    f1 = (n * s2 - s * s) // (n * n)
    f2 = 1000 * inc // (h * (w - 1)) if w > 1 else 0
    return f0, f1, f2


def gray_resize_area(
    pixels: list[tuple[int, int, int]], w: int, h: int,
    out_w: int, out_h: int,
) -> bytes:
    """Exact-integer area (box-filter) downsample to a row-major
    grayscale strip — the REAL resize step behind
    ``resize_images(fake=False)``. Source pixel (x, y) contributes to
    output cell (x*out_w // w, y*out_h // h); each cell's value is the
    truncating integer mean of its members' 8-bit luma
    ``(299r + 587g + 114b) // 1000``. The floor-mapping partitions the
    source grid for ANY (w, h) → (out_w, out_h), every cell is
    non-empty when out_w ≤ w and out_h ≤ h, and all math is integer —
    so the bytes are engine-portable and oracle-checkable (the DuckDB
    twin states the same floor mapping as a GROUP BY)."""
    if out_w > w or out_h > h:
        raise ValueError(
            f"area resize only shrinks: {w}x{h} -> {out_w}x{out_h}"
        )
    sums = [0] * (out_w * out_h)
    cnts = [0] * (out_w * out_h)
    for y in range(h):
        oy = y * out_h // h
        base = y * w
        for x in range(w):
            ox = x * out_w // w
            r, g, b = pixels[base + x]
            i = oy * out_w + ox
            sums[i] += (299 * r + 587 * g + 114 * b) // 1000
            cnts[i] += 1
    return bytes(s // c for s, c in zip(sums, cnts))


# --- real (lib-free) container codec: TAR / WebDataset shards --------
#
# Multimodal training corpora ship as TAR shards (the WebDataset
# convention: members of one sample share a basename — img.jpg +
# img.cls + img.txt). Indexing a shard = walking 512-byte ustar
# headers: NUL-terminated name, OCTAL ASCII size field, data padded to
# 512, two zero blocks at the end. The synthesizer emits spec-valid
# archives (including the real header CHECKSUM, so stdlib `tarfile`
# reads them — pinned in tests); the walker is the same bounded
# F.aggregate fold as the JPEG/MP4 walks — 100% JVM expressions, the
# shape that indexes a million shards without opening Python.

# Checksum constant: byte sum of every FIXED header field with the
# checksum slot as 8 spaces — mode "0000644\0" (350) + uid/gid
# "0000000\0" (336 each) + mtime "%011o" zeros (528) + 8 spaces (256)
# + typeflag '0' (48) + magic "ustar\0" (559) + version "00" (96);
# NUL padding contributes 0. Only the name and the octal size string
# vary per member.
_TAR_CHKSUM_CONST = 350 + 336 + 336 + 528 + 256 + 48 + 559 + 96


def synthesize_tar(
    df: DataFrame,
    id_col: str = "media_id",
    members_col: str = "members",
) -> DataFrame:
    """Build a REAL ustar TAR archive per row from a
    ``members array<struct<name:string, size:long>>`` column: each
    member gets a full 512-byte POSIX header (NUL-padded name, octal
    mode/uid/gid/size/mtime, CORRECT checksum — sum of header bytes
    with the checksum field as spaces, 6-digit octal + NUL + space —
    typeflag '0', "ustar" magic) followed by ``size`` bytes of 'd'
    padded to a 512 boundary; the archive ends with two zero blocks.
    Entirely JVM hex assembly + one unhex.

    The checksum is computed ANALYTICALLY — a fixed-field constant
    plus the ascii sums of the two variable fields (name, octal size
    string) — instead of folding over the 512 assembled header bytes:
    Catalyst re-inlines the referenced header expression into every
    fold step, and a 512-step fold over a ~20-part concat explodes
    the expression tree (measured: minutes of planning at sf0.001;
    the re-inlining trap at its most extreme)."""

    def ascii_sum(s: F.Column) -> F.Column:
        return F.aggregate(
            F.sequence(F.lit(1), F.length(s)),
            F.lit(0).cast("long"),
            lambda acc, i: acc + F.ascii(F.substr(s, i, F.lit(1))),
        )

    def octal_hex(v: F.Column, width: int) -> F.Column:
        # width octal digits + NUL, as hex
        return F.concat(
            F.hex(F.encode(F.format_string(f"%0{width}o", v), "UTF-8")),
            F.lit("00"),
        )

    def member_hex(m: F.Column) -> F.Column:
        name = m["name"]
        size = m["size"].cast("long")
        size_str = F.format_string("%011o", size)
        chksum = (
            F.lit(_TAR_CHKSUM_CONST).cast("long")
            + ascii_sum(name)
            + ascii_sum(size_str)
        )
        header = F.concat(
            F.rpad(F.hex(F.encode(name, "UTF-8")), 200, "0"),  # name 100
            octal_hex(F.lit(420), 7),                  # mode 0644
            octal_hex(F.lit(0), 7),                    # uid
            octal_hex(F.lit(0), 7),                    # gid
            F.concat(F.hex(F.encode(size_str, "UTF-8")), F.lit("00")),
            octal_hex(F.lit(0), 11),                   # mtime
            F.hex(F.encode(F.format_string("%06o", chksum), "UTF-8")),
            F.lit("0020"),                             # chksum NUL+space
            F.lit("30"),                               # typeflag '0'
            F.lit("00" * 100),                         # linkname
            F.lit("757374617200"),                     # magic "ustar\0"
            F.lit("3030"),                             # version "00"
            F.lit("00" * 247),                         # uname..prefix pad
        )
        pad = ((size + 511) / 512).cast("long") * 512 - size
        data = F.concat(
            F.repeat(F.lit("64"), size.cast("int")),   # 'd' * size
            F.repeat(F.lit("00"), pad.cast("int")),
        )
        return F.concat(header, data)

    hex_str = F.concat(
        F.array_join(F.transform(F.col(members_col), member_hex), ""),
        F.lit("00" * 1024),                            # two zero blocks
    )
    return df.select(
        F.col(id_col), F.unhex(F.upper(hex_str)).alias("payload")
    )


def tar_member_index(
    media: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    max_members: int = 8,
) -> DataFrame:
    """Index a TAR shard FROM ITS BYTES: fold up to ``max_members``
    steps of "read the 512-byte ustar header at pos → NUL-terminated
    name, octal size; record (name, data_offset, data_size); skip
    512 + padded data", stopping at the zero block (blank name), a
    truncated header, or a CHECKSUM MISMATCH. Each header's ustar
    checksum is recomputed in the fold — the sum of all 512 header
    bytes with the checksum field read as spaces (the POSIX rule),
    summed over the hex encoding so arbitrary bytes never hit a UTF-8
    decode — and compared to the stored octal value; a corrupted
    shard therefore yields a short, trustworthy index instead of a
    confidently wrong one (ADVICE r10: the size field drives every
    later offset, so walking past a bad header corrupts the whole
    tail). Emits one ROW PER MEMBER (0-based byte offsets) with
    ``member_idx`` — exactly the index a WebDataset-style loader
    range-reads with. Whole-stage JVM expressions; per-shard cost
    bounded by the member cap (the checksum adds a runtime 512-step
    inner aggregate per header — a single lambda, not an unrolled
    plan tree)."""
    p = F.col(payload_col)

    def step(acc: F.Column, _: F.Column) -> F.Column:
        pos = acc["pos"]
        readable = pos + 511 <= F.length(p)
        # ustar checksum: sum of the 512 header bytes with the chksum
        # field (offsets 148-155) as spaces. Summed over hex pairs —
        # conv(hex pair, 16, 10) — so NUL/high bytes are safe; the
        # stored value is the 6-digit octal in the chksum field.
        # The pairs come from ONE regex split into a 1024/2-element
        # array, NOT 512 substr() calls against the header expression:
        # a substr-per-index fold re-evaluates hex(substr(payload))
        # per element (512× per header — measured 2.4→6.8 s on the
        # shard-index bench before this shape), while an array input
        # is materialized once per fold step and iterated.
        # NB: Spark's split keeps the trailing empty string the
        # lookbehind pattern produces at end-of-input (limit=-1
        # semantics); conv('') is NULL, so each term is coalesced.
        hdr_pairs = F.split(
            F.hex(F.substr(p, pos, F.lit(512))), "(?<=\\G..)"
        )

        def pair_sum(arr: F.Column) -> F.Column:
            return F.aggregate(
                arr,
                F.lit(0).cast("long"),
                lambda a, x: a + F.coalesce(
                    F.conv(x, 16, 10).cast("long"), F.lit(0)
                ),
            )

        byte_sum = pair_sum(hdr_pairs)
        chk_field_sum = pair_sum(F.slice(hdr_pairs, 149, 8))
        stored_chk = F.conv(
            F.regexp_extract(
                F.decode(F.substr(p, pos + 148, F.lit(8)), "UTF-8"),
                "[0-7]+",
                0,
            ),
            8,
            10,
        ).cast("long")
        chk_ok = stored_chk.isNotNull() & (
            byte_sum - chk_field_sum + F.lit(8 * 32) == stored_chk
        )
        name = F.regexp_extract(
            F.decode(F.substr(p, pos, F.lit(100)), "UTF-8"),
            "^[^\\x00]*",
            0,
        )
        size = F.conv(
            F.regexp_extract(
                F.decode(F.substr(p, pos + 124, F.lit(12)), "UTF-8"),
                "[0-7]+",
                0,
            ),
            8,
            10,
        ).cast("long")
        emit = (
            ~acc["done"] & readable & (F.length(name) > 0)
            & size.isNotNull() & chk_ok
        )
        padded = ((size + 511) / 512).cast("long") * 512
        return F.struct(
            F.when(emit, pos + 512 + padded).otherwise(pos).alias("pos"),
            (~emit).alias("done"),
            F.when(
                emit,
                F.array_append(
                    acc["mem"],
                    F.struct(
                        name.alias("member_name"),
                        (pos - 1 + 512).cast("long").alias("data_offset"),
                        size.alias("data_size"),
                    ),
                ),
            ).otherwise(acc["mem"]).alias("mem"),
        )

    init = F.struct(
        F.lit(1).cast("long").alias("pos"),
        F.lit(False).alias("done"),
        F.expr(
            "CAST(array() AS array<struct<member_name:string,"
            "data_offset:bigint,data_size:bigint>>)"
        ).alias("mem"),
    )
    state = F.aggregate(
        F.sequence(F.lit(1), F.lit(max_members)), init, step
    )
    staged = media.select(F.col(id_col), state["mem"].alias("_mem"))
    return staged.select(
        id_col, F.posexplode("_mem").alias("_i", "_m")
    ).select(
        id_col,
        (F.col("_i") + 1).cast("long").alias("member_idx"),
        F.col("_m")["member_name"].alias("member_name"),
        F.col("_m")["data_offset"].alias("data_offset"),
        F.col("_m")["data_size"].alias("data_size"),
    )


def wav_pcm_vad_segments(
    media: DataFrame,
    frame: int = 16,
    min_energy: int = 0,
    id_col: str = "media_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Energy-threshold voice-activity detection over a mono 16-bit
    PCM WAV, decoded FROM ITS BYTES — the segmentation pass an audio
    curation pipeline runs to cut clips at silences before
    transcription/feature extraction. Samples decode with the same
    hex byte-swap + two's-complement read as wav_pcm_stats (one
    staged select — the autocorr staging); full ``frame``-sample
    frames get an exact integer energy ``Σ s_i²`` and posexplode to
    one ROW per frame, and maximal runs of frames with energy >
    ``min_energy`` become segments via the relational islands recipe
    (``f − row_number`` run-grouping, windows partitioned PER CLIP —
    bounded state, no global window). The first cut of this operator
    found the runs with an in-row grow-or-open fold over an
    array-of-structs accumulator instead; Catalyst's projection
    collapse re-inlined the frame-energy (and transitively the
    sample-decode and synthesis) expressions into every fold step —
    ~1.7 s/row at 5 rows, 10+ min at 500 (the re-inlining trap at a
    new extreme: nested HOFs multiply, they don't add). The
    frame-per-row shape keeps every lambda one level deep and lets
    the window do the stateful part.

    Returns one row per segment: ``(id_col, seg_idx (1-based, in
    start order), start_frame (0-based), n_frames, energy_sum)``;
    all-silent clips emit no rows."""
    from pyspark.sql import Window

    n, s = _pcm16_samples(F.col(payload_col))
    decoded = media.select(F.col(id_col), n.alias("_n"), s.alias("_s"))
    nf = (F.col("_n") / frame).cast("long")  # full frames only
    energy_f = F.transform(
        F.sequence(F.lit(0).cast("long"), nf - 1),
        lambda f: F.aggregate(
            F.slice(F.col("_s"), (f * frame + 1).cast("int"),
                    F.lit(frame)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x * x,
        ),
    )
    # The all-silent guard is a NULL array under the posexplode (which
    # emits no rows for NULL), NOT a ``.filter(nf > 0)``: a Filter node
    # here gets pushed below the decode AND synth projections, and the
    # pushed predicate re-inlines the whole payload-construction chain
    # just to read the header length — measured as a 9,430-char filter
    # predicate re-synthesizing every clip a second time (r13 profiling
    # of wav_vad_segments_report, VERDICT r12 ask #7).
    frames = decoded.select(
        F.col(id_col),
        F.posexplode(F.when(nf > 0, energy_f)).alias("f", "e"),
    ).select(
        id_col, F.col("f").cast("long").alias("f"), "e"
    )
    active = frames.filter(F.col("e") > F.lit(min_energy))
    run = active.select(
        id_col, "f", "e",
        (
            F.col("f")
            - F.row_number().over(
                Window.partitionBy(id_col).orderBy("f")
            )
        ).alias("_g"),
    )
    seg = run.groupBy(id_col, "_g").agg(
        F.min("f").alias("start_frame"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("e").cast("long").alias("energy_sum"),
    )
    return seg.select(
        id_col,
        F.row_number()
        .over(Window.partitionBy(id_col).orderBy("start_frame"))
        .cast("long")
        .alias("seg_idx"),
        "start_frame",
        "n_frames",
        "energy_sum",
    )


# --- G.711 mu-law companding (REAL codec, pure column arithmetic) -----
#
# Exact re-expression of CPython audioop's st_14linear2ulaw /
# st_ulaw2linear16 (itself Sun's reference g711.c) with NO bit
# operators: byte-complements become (mask - v), variable shifts
# become 8-branch CASE multipliers, and the 16->14-bit arithmetic
# right shift becomes a pmod floor-division — so the identical
# expression runs on Spark and any ANSI-SQL oracle engine.
# tests/test_similarity_multimodal.py proves byte equality against
# audioop over ALL 65536 input samples.

_ULAW_POW = "CASE {s} WHEN 0 THEN 1 WHEN 1 THEN 2 WHEN 2 THEN 4" \
    " WHEN 3 THEN 8 WHEN 4 THEN 16 WHEN 5 THEN 32 WHEN 6 THEN 64" \
    " WHEN 7 THEN 128 ELSE 256 END"


def _mulaw_encode_pieces(s: str, idiv: str) -> dict[str, str]:
    m14 = f"((({s}) - ((({s}) % 4 + 4) % 4)) {idiv} 4)"
    mag = f"(CASE WHEN {m14} < 0 THEN -{m14} ELSE {m14} END)"
    magc = f"(CASE WHEN {mag} > 8159 THEN 8159 ELSE {mag} END + 33)"
    seg = (
        f"(CASE WHEN {magc} <= 63 THEN 0 WHEN {magc} <= 127 THEN 1"
        f" WHEN {magc} <= 255 THEN 2 WHEN {magc} <= 511 THEN 3"
        f" WHEN {magc} <= 1023 THEN 4 WHEN {magc} <= 2047 THEN 5"
        f" WHEN {magc} <= 4095 THEN 6 WHEN {magc} <= 8191 THEN 7"
        f" ELSE 8 END)"
    )
    mask = f"(CASE WHEN {m14} < 0 THEN 127 ELSE 255 END)"
    return {"m14": m14, "magc": magc, "seg": seg, "mask": mask}


def mulaw_encode_expr(s: str, dialect: str = "spark") -> str:
    """SQL for PCM16 → mu-law byte; expression-only (no CTE). The only
    dialect split is integer division (Spark ``div`` vs DuckDB ``//``
    — every division here is exact, but ``/`` would re-type to DOUBLE
    on Spark)."""
    idiv = "div" if dialect == "spark" else "//"
    p = _mulaw_encode_pieces(s, idiv)
    seg, magc, mask = p["seg"], p["magc"], p["mask"]
    pow2 = _ULAW_POW.format(s=f"({seg} + 1)")
    val = f"({seg} * 16 + ({magc} - ({magc} % {pow2})) {idiv} {pow2} % 16)"
    return (
        f"(CASE WHEN {seg} >= 8 THEN {mask} - 127"
        f" ELSE {mask} - {val} END)"
    )


def mulaw_decode_expr(code: str, dialect: str = "spark") -> str:
    """SQL for mu-law byte (0..255) → PCM16, byte-equal to
    ``audioop.ulaw2lin(..., 2)``; same single dialect split."""
    idiv = "div" if dialect == "spark" else "//"
    u2 = f"(255 - ({code}))"
    t = f"((({u2}) % 16) * 8 + 132)"
    seg = f"(((({u2}) - (({u2}) % 16)) {idiv} 16) % 8)"
    ts = f"({t} * {_ULAW_POW.format(s=seg)})"
    return f"(CASE WHEN {u2} >= 128 THEN 132 - {ts} ELSE {ts} - 132 END)"


def mulaw_roundtrip_staged(src: DataFrame, s_col: str = "s") -> DataFrame:
    """Encode→decode round-trip ``(s, code, back, seg)`` as STAGED
    projections — the same `_mulaw_encode_pieces`/decode algebra, but
    with each named subexpression computed ONCE into a column instead
    of textually substituted into one expression.

    Why this exists (r14 opt): `mulaw_encode_expr` substitutes the
    m14/magc/seg/mask pieces into each other, so an inline encode of a
    compound input duplicates the shift-clamp chain ~50× — a ~20 KB
    expression tree whose analysis/codegen dominated the sf0.1 query
    (measured 4.6-5.9 s giant-expr vs 2.2-2.8 s staged, interleaved;
    per-row arithmetic is identical integer ops, so every code/back/
    seg value is byte-identical — pinned against the generator
    expressions over ALL 65536 PCM values in
    tests/test_similarity_multimodal.py). The generator expressions
    remain the cross-dialect source of truth for the oracles."""
    s = s_col
    s1 = src.select(s, F.expr(f"((({s}) - ((({s}) % 4 + 4) % 4)) div 4)").alias("_m14"))
    s2 = s1.select(
        s, "_m14",
        F.expr(
            "(CASE WHEN (CASE WHEN _m14 < 0 THEN -_m14 ELSE _m14 END)"
            " > 8159 THEN 8159 ELSE (CASE WHEN _m14 < 0 THEN -_m14"
            " ELSE _m14 END) END + 33)"
        ).alias("_magc"),
        F.expr("(CASE WHEN _m14 < 0 THEN 127 ELSE 255 END)").alias("_mask"),
    )
    s3 = s2.select(
        s, "_magc", "_mask",
        F.expr(
            "(CASE WHEN _magc <= 63 THEN 0 WHEN _magc <= 127 THEN 1"
            " WHEN _magc <= 255 THEN 2 WHEN _magc <= 511 THEN 3"
            " WHEN _magc <= 1023 THEN 4 WHEN _magc <= 2047 THEN 5"
            " WHEN _magc <= 4095 THEN 6 WHEN _magc <= 8191 THEN 7"
            " ELSE 8 END)"
        ).alias("_seg"),
    )
    pow2 = _ULAW_POW.format(s="(_seg + 1)")
    enc = s3.select(
        s,
        F.expr(
            f"(CASE WHEN _seg >= 8 THEN _mask - 127 ELSE _mask -"
            f" (_seg * 16 + (_magc - (_magc % {pow2})) div {pow2} % 16)"
            f" END)"
        ).alias("code"),
    )
    dec = enc.select(
        s, "code",
        F.expr("(255 - (code))").alias("_u2"),
    ).select(
        s, "code", "_u2",
        F.expr("((_u2 % 16) * 8 + 132)").alias("_t"),
        F.expr("(((_u2 - (_u2 % 16)) div 16) % 8)").alias("seg"),
    )
    powd = _ULAW_POW.format(s="seg")
    return dec.select(
        s, "code",
        F.expr(
            f"(CASE WHEN _u2 >= 128 THEN 132 - (_t * {powd})"
            f" ELSE (_t * {powd}) - 132 END)"
        ).alias("back"),
        "seg",
    )


# --- Netpbm P6 (PPM) — second REAL raster codec ------------------------


def synthesize_ppm6(
    df: DataFrame,
    id_col: str = "media_id",
    width_col: str = "width_px",
    height_col: str = "height_px",
    seed_col: str = "img_seed",
) -> DataFrame:
    """Build a spec-valid binary PPM (netpbm P6) per row: ASCII header
    ``P6`` / optional ``#`` comment line (emitted when seed%3==0, so a
    decoder that can't skip comments fails a third of the corpus) /
    ``{w} {h}`` / ``255``, then w*h RGB triples TOP-DOWN with no row
    padding — the exact complement of BMP's bottom-up padded BGR, so
    the two decoders can't be confused silently. Same channel
    gradient as synthesize_bmp24 (r=(seed*7+x*13+y*31)%256 etc.) but
    stored in RGB file order."""
    w = F.col(width_col).cast("long")
    h = F.col(height_col).cast("long")
    seed = F.col(seed_col).cast("long")
    header = F.concat(
        F.lit("P6\n"),
        F.when(
            seed % 3 == 0,
            F.concat(F.lit("# s"), seed.cast("string"), F.lit("\n")),
        ).otherwise(F.lit("")),
        w.cast("string"), F.lit(" "), h.cast("string"), F.lit("\n"),
        F.lit("255\n"),
    )

    def px_hex(x: F.Column, y: F.Column) -> F.Column:
        # file order is R, G, B (no padding)
        return F.concat(
            F.format_string("%02x", (seed * 7 + x * 13 + y * 31) % 256),
            F.format_string("%02x", (seed * 11 + x * 3 + y * 17) % 256),
            F.format_string("%02x", (seed * 5 + x * 19 + y * 23) % 256),
        )

    def row_hex(y: F.Column) -> F.Column:
        return F.array_join(
            F.transform(F.sequence(F.lit(0).cast("long"), w - 1),
                        lambda x: px_hex(x, y)),
            "",
        )

    data_hex = F.array_join(
        F.transform(F.sequence(F.lit(0).cast("long"), h - 1), row_hex),
        "",
    )
    return df.select(
        F.col(id_col),
        F.unhex(F.concat(F.hex(header), F.upper(data_hex)))
        .alias("payload"),
    )


def decode_ppm6(buf: bytes) -> tuple[int, int, list[tuple[int, int, int]]]:
    """Pure-stdlib binary-PPM decoder: parses the ASCII header with
    full netpbm token rules (any whitespace separates tokens; ``#``
    starts a comment running to end-of-line, legal between any
    tokens), requires maxval 255, then reads w*h RGB triples after
    the single whitespace byte that terminates the maxval token.
    Returns (width, height, pixels) row-major top-down as (r, g, b).
    Raises ValueError on malformed input."""
    if len(buf) < 2 or bytes(buf[:2]) != b"P6":
        raise ValueError("not a P6 PPM payload")
    pos = 2
    vals: list[int] = []
    while len(vals) < 3:
        if pos >= len(buf):
            raise ValueError("truncated PPM header")
        c = buf[pos]
        if c in b" \t\r\n":
            pos += 1
        elif c == ord("#"):
            while pos < len(buf) and buf[pos] != ord("\n"):
                pos += 1
        elif ord("0") <= c <= ord("9"):
            start = pos
            while pos < len(buf) and ord("0") <= buf[pos] <= ord("9"):
                pos += 1
            vals.append(int(buf[start:pos]))
        else:
            raise ValueError(f"bad PPM header byte {c!r}")
    w, h, maxval = vals
    if maxval != 255 or w <= 0 or h <= 0:
        raise ValueError(f"unsupported PPM ({w}x{h}, maxval={maxval})")
    if pos >= len(buf) or buf[pos] not in b" \t\r\n":
        raise ValueError("missing whitespace after maxval")
    pos += 1
    need = w * h * 3
    if len(buf) < pos + need:
        raise ValueError("truncated PPM pixel data")
    px = [
        (buf[pos + 3 * i], buf[pos + 3 * i + 1], buf[pos + 3 * i + 2])
        for i in range(w * h)
    ]
    return w, h, px
