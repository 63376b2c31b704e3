"""Multimodal column plumbing — binary payloads + typed metadata.

Design: image/audio/video are opaque ``binary`` columns paired with a
typed metadata struct (mime, byte size, content hash, declared
dims/duration). All Spark-side plumbing — schema, partition-friendly
batching, Arrow-batched ``mapInPandas`` UDF shape — is real and
tested. Codec calls are OPTIONAL-dependency gated: ``pil_available``
probes for Pillow at call time, ``decode_image_features(mode="pil")``
runs a real decode→grayscale→resize→stats path when it imports, and
the deterministic byte-stats fallback (``mode="bytes"``, the default
and the declared-query pin, so the oracle never depends on the
environment) covers containers without media libraries — like this
one. ``sample_frames`` stays a byte-window stub for the same reason.

At 100 TB the rules encoded here: keep payloads OUT of shuffle keys,
compute metadata in-scan (expressions), run decoders in mapInPandas
with bounded Arrow batch sizes so executor memory stays flat.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.step import Step
from ..operators.processors import transform

BLOB_META_SCHEMA = T.StructType(
    [
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("sha", T.StringType()),
    ]
)


def attach_blob(
    name: str = "attach-blob",
    from_text_col: str = "text",
    mime: str = "application/octet-stream",
) -> Step:
    """Materialize an opaque binary column (here: utf-8 payload of an
    existing column — the deterministic stand-in for reading real
    media bytes) plus its typed metadata struct. In production the
    payload column comes straight from the source (parquet/webdataset
    binary column); everything downstream only sees ``blob`` +
    ``blob_meta`` and never re-derives it."""
    payload = F.encode(F.col(from_text_col), "utf-8")
    return transform(
        name,
        {
            "blob": payload,
            "blob_meta": F.struct(
                F.lit(mime).alias("mime"),
                F.length(payload).cast("long").alias("n_bytes"),
                F.sha2(payload, 256).alias("sha"),
            ),
        },
    )


def blob_metadata(name: str = "blob-meta", blob_col: str = "blob") -> Step:
    """Metadata over an existing binary column — pure expressions, no
    decode: byte length + sha256. Runs inside the scan projection."""
    b = F.col(blob_col)
    return transform(
        name,
        {
            "n_bytes": F.length(b).cast("long"),
            "sha": F.sha2(b, 256),
        },
    )


_IMG_FEATURES_COLS = "n_bytes long, mean_byte double, byte_entropy_bucket int"


def pil_available() -> bool:
    """Optional-dependency probe: True when Pillow imports. Probed,
    never assumed — an environment may ship without media libraries,
    so the decode path is selected at call time."""
    try:
        from PIL import Image  # noqa: F401

        return True
    except Exception:
        return False


def decode_image_features(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "blob",
    batch_size_hint: int = 256,
    mode: str = "bytes",
) -> DataFrame:
    """Decode-and-featurize over Arrow batches (mapInPandas).

    ``mode`` selects the featurizer behind ONE stable schema:

    - ``"bytes"`` (default): deterministic byte-level statistics —
      no media library needed, environment-independent, and what the
      declared query / DuckDB oracle pin (the oracle must not depend
      on whether Pillow is installed).
    - ``"pil"``: real decode → grayscale → 32×32 resize → pixel
      statistics via Pillow; raises ImportError when Pillow is
      absent. The availability probe runs on the DRIVER — on a
      cluster, executors need Pillow in their own image too (a
      mismatch fails the scan with an error naming exactly that).
      Rows whose payload does not decode as an image fall
      back to the byte statistics (total function — one corrupt blob
      never fails the scan; the dead-letter policy for media lives
      with the caller's Either wrapper, not here).
    - ``"auto"``: ``"pil"`` when Pillow imports, else ``"bytes"``.

    The Spark plumbing is identical in every mode and is the part
    the engine owns: schema-stable output, bounded pandas batches,
    payload never leaves the executor (ref: apply.go:55-57's
    closure-wrapping analog for the optional-dependency probe).
    """
    if mode == "auto":
        mode = "pil" if pil_available() else "bytes"
    if mode not in ("bytes", "pil"):
        raise ValueError("mode must be 'bytes', 'pil' or 'auto'")
    if mode == "pil" and not pil_available():
        raise ImportError("mode='pil' requires Pillow; install it or use mode='auto'")
    use_pil = mode == "pil"

    def _features(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        if use_pil:
            import io

            try:
                from PIL import Image
            except ImportError as e:
                # the call-time probe ran on the DRIVER; this closure
                # runs on executors, and on a real cluster the venvs
                # can differ — name the actual problem instead of
                # failing every task with a bare ImportError
                raise ImportError(
                    "mode='pil' resolved on the driver but Pillow is not "
                    "importable on this executor — install Pillow in the "
                    "executor image or use mode='bytes'"
                ) from e

        def stats(b):
            if not b:
                return 0, 0.0
            if use_pil:
                try:
                    img = Image.open(io.BytesIO(bytes(b))).convert("L").resize((32, 32))
                    px = img.getdata()
                    return len(b), sum(px) / len(px)
                except Exception:
                    pass  # non-image payload → byte-stat fallback
            return len(b), sum(b) / len(b)

        for pdf in batches:
            pairs = pdf[blob_col].map(stats)
            n_bytes = pairs.map(lambda p: p[0])
            mean_byte = pairs.map(lambda p: p[1])
            bucket = mean_byte.map(lambda m: int(m) // 32)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes.astype("int64"),
                    "mean_byte": mean_byte.round(4),
                    "byte_entropy_bucket": bucket.astype("int32"),
                }
            )

    # id name AND type derived from the input (r7 review finding: a
    # hardcoded "doc_id long" renamed custom id columns and failed
    # Arrow conversion for string ids — same contract as the
    # similarity module's _id_type preservation)
    id_ddl = f"{id_col} {df.schema[id_col].dataType.simpleString()}"
    return df.select(id_col, blob_col).mapInPandas(
        _features, f"{id_ddl}, {_IMG_FEATURES_COLS}"
    )


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 64,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Frame-sampling plumbing: explode one blob row into N "frame"
    rows (offset + fixed-width byte window). STUB for video frame
    extraction — the row-explosion shape, offsets, and schema are what
    a real decoder plugs into; the "frame" here is the raw byte slice.
    Pure expressions: sequence + transform + explode (no Python)."""
    b = F.col(blob_col)
    offsets = F.sequence(F.lit(0), F.greatest(F.length(b) - 1, F.lit(0)), F.lit(every_n_bytes))
    frames = F.transform(
        offsets,
        lambda off: F.struct(
            off.alias("offset"),
            F.substring(b, off + 1, every_n_bytes).alias("frame_bytes"),
        ),
    )
    return df.select(
        F.col(id_col),
        F.posexplode(frames).alias("frame_no", "frame"),
    ).select(
        id_col,
        "frame_no",
        F.col("frame.offset").alias("offset"),
        F.length(F.col("frame.frame_bytes")).cast("long").alias("frame_len"),
    )


_AHASH_BANDS = 4
_AHASH_BITS = 64


def image_ahash(
    df: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "blob",
) -> DataFrame:
    """Average-hash perceptual signature over a binary payload — the
    aHash member of the pHash family (block-mean image hashing, e.g.
    Yang et al. 2006 "Block mean value based image perceptual
    hashing"): split the payload into 64 contiguous blocks, bit i = 1
    iff block i's mean exceeds the global mean. On decoded pixels
    this is the classic perceptual hash; on this container's
    deterministic byte-stats path it hashes the BYTE profile — the
    Spark plumbing (Arrow batches, schema, banding contract) is
    identical either way, the ``decode_image_features`` convention.

    Returned as FOUR 16-bit band integers (ahash_b0..b3 BIGINT, bit
    16j+r of the signature = bit r of band j) rather than one packed
    long: the bands are the near-dup join currency (pigeonhole:
    Hamming ≤ 3 forces ≥ 1 exact band match across 4 bands) and
    four small non-negative ints sidestep int64 sign handling in
    external replays.

    Engine-exact integer construction (no float means): block
    boundaries are the balanced partition start_i = floor(i·L/64)
    (position p belongs to block (64p + 63) DIV L), and the bit test
    is the cross-multiplied block_sum·L > total_sum·block_len —
    exact BIGINT comparisons, so any engine that can enumerate the
    payload's byte values replays every bit. Empty blocks (L < 64)
    and empty payloads hash to 0-bits.

    Scale shape: one Arrow-batched mapInPandas projection — no
    shuffle, payload bytes never leave the executor, output is
    4 longs + id per row."""

    def _hash(batches: Iterator["object"]) -> Iterator["object"]:
        import numpy as np
        import pandas as pd

        def sig(b):
            if b is None or len(b) == 0:
                return (0, 0, 0, 0)
            a = np.frombuffer(bytes(b), dtype=np.uint8).astype(np.int64)
            L = len(a)
            blocks = (64 * np.arange(L, dtype=np.int64) + 63) // L
            sums = np.bincount(blocks, weights=a, minlength=_AHASH_BITS)
            lens = np.bincount(blocks, minlength=_AHASH_BITS)
            # byte sums < 256·L stay exact in the float64 bincount
            # far beyond any realistic payload (2^53 / 256 bytes)
            bits = (sums.astype(np.int64) * L) > (int(a.sum()) * lens)
            out = []
            for j in range(_AHASH_BANDS):
                chunk = 0
                for r in range(16):
                    if bits[16 * j + r]:
                        chunk |= 1 << r
                out.append(chunk)
            return tuple(out)

        for pdf in batches:
            sigs = pdf[blob_col].map(sig)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    **{
                        f"ahash_b{j}": sigs.map(
                            lambda t, j=j: t[j]
                        ).astype("int64")
                        for j in range(_AHASH_BANDS)
                    },
                }
            )

    id_ddl = f"{id_col} {df.schema[id_col].dataType.simpleString()}"
    bands_ddl = ", ".join(f"ahash_b{j} long" for j in range(_AHASH_BANDS))
    return df.select(id_col, blob_col).mapInPandas(
        _hash, f"{id_ddl}, {bands_ddl}"
    )


def image_near_dup(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    blob_col: str = "blob",
    max_bucket: int = 256,
) -> DataFrame:
    """Image near-duplicate pairs via banded aHash — the multimodal
    family's dedup stage (the standard 100 TB image-pipeline step):
    signatures from :func:`image_ahash`, candidates from exact
    16-bit band-bucket matches (pigeonhole over 4 bands guarantees
    every Hamming ≤ 3 pair shares ≥ 1 band — the simhash block-trick
    convention, ``dedup.simhash_near_dup_pairs``), then the exact
    ``bit_count(xor)`` verify summed across bands. Returns (id_a,
    id_b, hamming) with id_a < id_b.

    Scale: candidates come from (band, chunk) buckets — never a
    cross join — expanded in-array by the ``_bucket_pairs`` chunk
    grid (a viral bucket splits into ``max_bucket``-id chunk cells,
    exhaustive either way); signature payloads join back only AFTER
    the distinct has collapsed multi-band collisions. Composing runs
    no Spark job: the caller's action fills the signature cache."""
    if not 0 <= max_hamming < _AHASH_BANDS:
        raise ValueError(
            f"need 0 <= max_hamming < {_AHASH_BANDS} (pigeonhole over "
            f"{_AHASH_BANDS} bands), got {max_hamming}"
        )
    from ..core import caches as _caches
    from .dedup import _bucket_pairs

    h = _caches.track(
        image_ahash(df, id_col=id_col, blob_col=blob_col)
        .withColumnRenamed(id_col, "_id")
        .persist()
    )
    chunked = h.select(
        "_id",
        F.posexplode(
            F.array(*[F.col(f"ahash_b{j}") for j in range(_AHASH_BANDS)])
        ).alias("band", "chunk"),
    )
    pairs = _bucket_pairs(chunked, ["band", "chunk"], max_bucket)
    ham = None
    joined = (
        pairs.join(
            h.select(
                F.col("_id").alias("id_a"),
                *[F.col(f"ahash_b{j}").alias(f"_a{j}") for j in range(_AHASH_BANDS)],
            ),
            "id_a",
        )
        .join(
            h.select(
                F.col("_id").alias("id_b"),
                *[F.col(f"ahash_b{j}").alias(f"_b{j}") for j in range(_AHASH_BANDS)],
            ),
            "id_b",
        )
    )
    for j in range(_AHASH_BANDS):
        term = F.bit_count(F.col(f"_a{j}").bitwiseXOR(F.col(f"_b{j}")))
        ham = term if ham is None else ham + term
    return joined.select(
        "id_a", "id_b", ham.cast("int").alias("hamming")
    ).where(F.col("hamming") <= max_hamming)


__all__ = [
    "BLOB_META_SCHEMA",
    "attach_blob",
    "blob_metadata",
    "decode_image_features",
    "image_ahash",
    "image_near_dup",
    "pil_available",
    "sample_frames",
]
