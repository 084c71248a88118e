"""Multimodal column handling: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``BinaryType`` columns
with a metadata struct (modality, mime, width/height/duration, ...).
The Spark-side plumbing — schema, Arrow batch shape, partition-friendly
mapInPandas kernels — is real and tested; the actual codec calls are
STUBBED (this container ships no image/audio libraries): decode raises
``NotImplementedError`` unless ``fake=True``, which substitutes a
deterministic fake decoder so the dataflow can be exercised end-to-end.

At 100 TB: binary payloads dominate row size, so the kernels are
``mapInPandas`` (streaming Arrow batches, nothing pinned on the driver)
and every metadata-only operation projects the payload column away
first — column pruning keeps the scan from ever touching the bytes.

The near-dup operators (perceptual hashes, video frames, CDC chunks,
audio constellations) hash in the scan and then pair docs under the
pair rule, hot-key cap and pigeonhole banding stated once in
``operators/dedup.py``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from python_openetl_spark.operators.dedup import (
    _drop_hot_keys,
    _hash_bands,
    _shared_key_pairs,
)

#: Metadata struct carried alongside every binary payload.
MEDIA_META_SCHEMA = (
    "modality string, mime string, width int, height int, duration_ms int"
)


def attach_payload_metadata(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Cheap byte-level metadata (no decode): length + content hash."""
    p = F.col(payload_col)
    return df.withColumn("n_bytes", F.length(p)).withColumn(
        "content_sha256", F.sha2(p, 256)
    )


def _fake_decode(payload: bytes) -> dict:
    """Deterministic stand-in for a real image decoder: derives stable
    pseudo-dimensions and a 4-byte 'thumbnail' from the content hash."""
    h = hashlib.sha256(payload).digest()
    return {
        "width": 64 + h[0] % 192,
        "height": 64 + h[1] % 192,
        "channels": 3,
        "thumbnail": h[:4],
    }


def decode_images(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    fake: bool = False,
    decoder: "callable | None" = None,
) -> DataFrame:
    """Decode binary payloads into (width, height, channels, thumbnail).

    Arrow-batched mapInPandas: each executor task streams batches of
    payload bytes through the decode kernel — the shape a real
    PIL/ffmpeg kernel would use.

    The codec is a SEAM: pass ``decoder`` — any callable
    ``bytes -> {"width", "height", "channels", "thumbnail"}`` — and a
    production environment with Pillow registers its real codec without
    touching this operator (e.g. ``decoder=lambda b: _pil_decode(b)``).
    The callable is shipped to executors inside the kernel closure, so
    it must be picklable and import its libraries lazily. Without a
    decoder, ``fake=True`` substitutes the deterministic content-hash
    fake; otherwise this environment (no image libraries) raises.
    """
    if decoder is None:
        if not fake:
            raise NotImplementedError(
                "image/audio codecs are not available in this environment; "
                "pass fake=True for the deterministic fake decoder or "
                "decoder=<callable> to plug a real codec"
            )
        decoder = _fake_decode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payloads (missing/corrupt blobs — routine at 100 TB)
            # decode to NULL metadata instead of crashing the task
            decoded = [
                None if b is None else decoder(bytes(b))
                for b in pdf[payload_col]
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "width": [d["width"] if d else None for d in decoded],
                    "height": [d["height"] if d else None for d in decoded],
                    "channels": [d["channels"] if d else None for d in decoded],
                    "thumbnail": [d["thumbnail"] if d else None for d in decoded],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        kernel, schema=f"{id_col} long, width int, height int, channels int, thumbnail binary"
    )


def sample_frames(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    every_n_bytes: int = 64,
    fake: bool = False,
) -> DataFrame:
    """Frame-sampling stub (video → rows of frame payloads): emits one
    row per sampled offset. Demonstrates the 1→N expansion shape
    (posexplode of a computed offsets array) used by real frame
    extraction."""
    if not fake:
        raise NotImplementedError(
            "video codecs are not available in this environment; pass fake=True"
        )
    p = F.col(payload_col)
    offsets = F.sequence(F.lit(0), F.greatest(F.length(p) - 1, F.lit(0)), F.lit(every_n_bytes))
    return df.select(
        id_col, F.posexplode(offsets).alias("frame_idx", "byte_offset")
    )


#: bytes per millisecond assumed by the fake audio "decoder"
#: (16 kHz mono 16-bit PCM = 32 bytes/ms)
AUDIO_BYTES_PER_MS = 32

#: frame stride assumed by the fake video "decoder"
VIDEO_FRAME_BYTES = 64


def dispatch_modalities(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    modality_col: str = "modality",
    *,
    fake: bool = False,
    kernels: "dict[str, callable] | None" = None,
) -> DataFrame:
    """Route a HETEROGENEOUS corpus through per-modality decode kernels
    in ONE Arrow pass: each mapInPandas batch is split by the modality
    column and each slice runs its own kernel (image → dimensions,
    audio → duration, video → frame count), emitting a unified feature
    schema ``(id, modality, feat_a, feat_b)``.

    This is the shape a mixed image/audio/video training corpus needs
    at 100 TB: one scan, no per-modality job fan-out, no shuffle — the
    routing is within-batch — and a modality the kernel table doesn't
    know yields NULL features instead of failing the scan.

    The kernel table is a SEAM (same contract as
    :func:`decode_images`'s ``decoder``): pass ``kernels`` — a dict
    ``modality -> (bytes -> (feat_a, feat_b))`` of picklable callables
    — to plug real codecs per modality. Without it, ``fake=True``
    installs the deterministic fakes (image dims from the content
    hash, audio/video from byte length), keeping the dispatch dataflow
    value-checkable; otherwise this codec-less environment raises.
    """
    if kernels is None:
        if not fake:
            raise NotImplementedError(
                "image/audio/video codecs are not available in this "
                "environment; pass fake=True for the deterministic fakes or "
                "kernels={modality: callable} to plug real codecs"
            )

        def _image(b: bytes) -> tuple:
            d = _fake_decode(b)
            return d["width"], d["height"]

        def _audio(b: bytes) -> tuple:
            return len(b) // AUDIO_BYTES_PER_MS, None

        def _video(b: bytes) -> tuple:
            return -(-len(b) // VIDEO_FRAME_BYTES), None

        kernels = {"image": _image, "audio": _audio, "video": _video}

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            feat_a: list = [None] * len(pdf)
            feat_b: list = [None] * len(pdf)
            payloads = pdf[payload_col].to_numpy()
            for mod, idx in pdf.groupby(modality_col, dropna=False).indices.items():
                fn = kernels.get(mod)
                if fn is None:
                    continue  # unknown modality -> NULL features
                for i in idx:
                    b = payloads[i]
                    if b is None:
                        continue  # missing blob -> NULL features
                    feat_a[i], feat_b[i] = fn(bytes(b))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    modality_col: pdf[modality_col].to_numpy(),
                    "feat_a": pd.array(feat_a, dtype="Int64"),
                    "feat_b": pd.array(feat_b, dtype="Int64"),
                }
            )

    return df.select(id_col, modality_col, payload_col).mapInPandas(
        kernel,
        schema=f"{id_col} long, {modality_col} string, feat_a long, feat_b long",
    )


def perceptual_hashes(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    decoder=None,
) -> DataFrame:
    """Per-payload 64-bit perceptual hash via the decode seam: the
    Arrow kernel decodes each blob (injectable ``decoder``; the
    deterministic fake by default — a real deployment passes a
    pillow/DCT pHash) and emits ``(id, phash long)``. NULL payloads
    (missing/corrupt blobs) yield no hash row — they cannot be
    near-anything. The payload bytes never shuffle: the 8-byte hash is
    all that leaves the scan."""
    import numpy as np

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                if b is None:
                    continue
                if decoder is not None:
                    digest = decoder(bytes(b))
                else:
                    # fake decoder: hash stands in for DCT-of-thumbnail
                    digest = hashlib.sha256(bytes(b)).digest()[:8]
                ids.append(i)
                hashes.append(int.from_bytes(digest[:8], "big", signed=True))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "phash": pd.Series(hashes, dtype="int64"),
                }
            )

    return df.select(id_col, payload_col).mapInPandas(
        kernel, schema=f"{id_col} long, phash long"
    )


def phash_near_dup_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    max_hamming: int = 3,
    num_bands: int = 4,
    decoder=None,
) -> DataFrame:
    """Near-duplicate MEDIA pairs with hamming(phash) <= max_hamming —
    the image-dedup shape (re-encoded/resized copies land within a few
    bits of each other under a real pHash; exact byte-duplicates are
    hamming 0 under any decoder). The pigeonhole banding of
    ``operators/dedup.py`` over 64 bits in ``num_bands`` bands finds
    every pair within ``max_hamming < num_bands`` bits without an
    all-pairs join; JVM ``bit_count(xor)`` verifies. Shuffle carries
    (id, 8-byte hash) rows only."""
    ph = perceptual_hashes(df, payload_col, id_col, decoder=decoder)
    banded = _hash_bands(ph, "phash", bits=64, num_bands=num_bands, max_hamming=max_hamming)
    return (
        _shared_key_pairs(banded, ["band", "key"], id_col, carry=("phash",))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("phash_a").bitwiseXOR(F.col("phash_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def frame_phash_near_dup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    frame_bytes: int = VIDEO_FRAME_BYTES,
    max_frame_hamming: int = 3,
    num_bands: int = 4,
    min_matched_frames: int = 1,
    decoder=None,
    frame_sampler=None,
) -> DataFrame:
    """Near-duplicate VIDEO pairs via frame-level perceptual hashes —
    the video-dedup shape: a re-encoded or TRIMMED copy shares (some
    of) its frames with the original even when the container bytes
    differ, so matching happens per frame and rolls up per video pair.

    Dataflow (one scan, hashes-only shuffle): an Arrow kernel samples
    frames (injectable ``frame_sampler: bytes -> list[bytes]``; the
    deterministic fake slices every ``frame_bytes`` — a real
    deployment passes an ffmpeg keyframe extractor) and hashes each
    frame through the same decode seam as :func:`perceptual_hashes`
    (``decoder`` or the sha256 fake), emitting ``(id, fhash)`` — frame
    payloads never leave the scan, only 8-byte hashes. Frame matches
    use the identical pigeonhole banding as
    :func:`phash_near_dup_pairs` (``max_frame_hamming < num_bands``
    bits ⇒ one band agrees exactly ⇒ no recall loss), then pairs roll
    up as ``n_matched_frames`` = DISTINCT matching frame-hash pairs
    per (video_a, video_b); ``min_matched_frames`` is the report
    threshold (1 = any shared frame; raise it for "mostly the same
    video"). NULL payloads sample no frames; a ZERO-BYTE payload has
    no frames either (contrast mm05, where the empty byte string
    still hashes) — both are stated semantics, pinned in tests."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                if b is None:
                    continue
                raw = bytes(b)
                if frame_sampler is not None:
                    frames = frame_sampler(raw)
                else:
                    frames = [
                        raw[o : o + frame_bytes]
                        for o in range(0, len(raw), frame_bytes)
                    ]
                for fr in frames:
                    digest = (
                        decoder(fr)
                        if decoder is not None
                        else hashlib.sha256(fr).digest()[:8]
                    )
                    ids.append(i)
                    hashes.append(int.from_bytes(digest[:8], "big", signed=True))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "fhash": pd.Series(hashes, dtype="int64"),
                }
            )

    fh = (
        df.select(id_col, payload_col)
        .mapInPandas(kernel, schema=f"{id_col} long, fhash long")
        .distinct()  # a frame repeated WITHIN one video counts once
    )
    banded = _hash_bands(
        fh, "fhash", bits=64, num_bands=num_bands, max_hamming=max_frame_hamming
    )
    matched = (
        _shared_key_pairs(banded, ["band", "key"], id_col, carry=("fhash",))
        .distinct()  # one logical frame match per band collision set
        .filter(
            F.bit_count(F.col("fhash_a").bitwiseXOR(F.col("fhash_b")))
            <= max_frame_hamming
        )
    )
    return (
        matched.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_matched_frames"))
        .filter(F.col("n_matched_frames") >= min_matched_frames)
    )


def cdc_chunk_fingerprints(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    window: int = 8,
    divisor: int = 8,
    decoder=None,
) -> DataFrame:
    """CONTENT-DEFINED chunk fingerprints of binary payloads — the
    storage-dedup / rsync device, and the property mm06's fixed-frame
    hashing lacks: a copy with a PREFIX PAD (re-encoded audio with a
    new header, a video remuxed with different metadata) shifts every
    fixed-offset frame, but content-defined boundaries depend only on
    a ``window``-byte rolling context, so cut positions in the shared
    region are identical in both copies and their interior chunks
    fingerprint-match regardless of offset.

    Boundary rule: a cut after byte ``i`` iff the polynomial rolling
    hash of the ``window`` bytes ending at ``i`` satisfies
    ``h % divisor == divisor - 1`` (expected chunk length ≈
    ``divisor`` bytes — fixture-sized here; storage systems run 2-8 KB
    with min/max clamps, which trade the pure offset-invariance below
    for bounded chunk sizes and re-synchronize probabilistically).
    No min/max clamp is applied, so cuts are PURELY content-local:
    byte-identical regions longer than one chunk share fingerprints
    deterministically. The first ``window - 1`` bytes after a payload
    edge see a partial context and may cut differently — stated, and
    why matching needs interior chunks.

    One Arrow-batched scan emits ``(id, chunk_fp int64)`` — payload
    bytes never leave the scan, only 8-byte fingerprints shuffle
    (the mm05/mm06 rule). NULL payloads emit nothing; a zero-byte
    payload has no chunks. ``decoder`` is the usual injectable seam
    (default sha256) so a real deployment can fingerprint DECODED
    samples instead of container bytes; its return value is truncated
    to the first 8 bytes (the int64 fingerprint width) — returning
    fewer than 8 is fine, the shorter digest just spans less of the
    key space."""
    if window <= 0 or divisor <= 0:
        raise ValueError(f"window/divisor must be positive: {window}/{divisor}")

    import numpy as np

    # fixed odd multiplier; uint64 wraparound is the modulus
    weights = np.array(
        [pow(1099511628211, window - 1 - j, 1 << 64) for j in range(window)],
        dtype=np.uint64,
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, fps = [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                if b is None:
                    continue
                raw = bytes(b)
                if len(raw) == 0:
                    continue
                arr = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
                if len(arr) >= window:
                    wins = np.lib.stride_tricks.sliding_window_view(arr, window)
                    h = (wins * weights).sum(axis=1)  # uint64 wraps
                    # cut AFTER byte (window-1)+k for each satisfying k
                    cuts = np.nonzero(h % divisor == divisor - 1)[0] + window
                else:
                    cuts = np.array([], dtype=np.int64)
                bounds = [0, *cuts.tolist(), len(raw)]
                for s, e in zip(bounds, bounds[1:]):
                    if e <= s:
                        continue
                    chunk = raw[s:e]
                    # [:8] applies to injected decoders too (r9 advice):
                    # the fingerprint is int64, so any longer digest
                    # would overflow the Series construction at runtime
                    digest = (
                        decoder(chunk)
                        if decoder is not None
                        else hashlib.sha256(chunk).digest()
                    )[:8]
                    ids.append(i)
                    fps.append(int.from_bytes(digest, "big", signed=True))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "chunk_fp": pd.Series(fps, dtype="int64"),
                }
            )

    return (
        df.select(id_col, payload_col)
        .mapInPandas(kernel, schema=f"{id_col} long, chunk_fp long")
        .distinct()  # a chunk repeated WITHIN one payload counts once
    )


def cdc_chunk_near_dup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    window: int = 8,
    divisor: int = 8,
    min_shared_chunks: int = 1,
    max_chunk_docs: int | None = None,
    decoder=None,
) -> DataFrame:
    """Offset-invariant binary near-dup pairs by shared content-defined
    chunks: fingerprint with :func:`cdc_chunk_fingerprints`, then an
    exact-equality self-join on ``chunk_fp`` (chunks are exact-dup
    units — the fuzziness lives in the boundary rule, not the hash)
    rolled up to ``n_shared_chunks`` per pair. The join key is a
    single int64, so the heavy exchange is 16 bytes/row.

    ``max_chunk_docs`` drops chunk fingerprints shared by MORE than N
    payloads before the self-join (None = exact): the hot-key cap of
    ``operators/dedup.py``. ``distinct()`` per payload bounds repeats
    WITHIN a document, but a UNIVERSAL chunk — a zero-run, a shared
    container header — appears once per payload. A chunk in half the
    corpus carries no near-dup signal anyway."""
    fp = cdc_chunk_fingerprints(
        df, payload_col, id_col, window=window, divisor=divisor, decoder=decoder
    )
    return (
        _shared_key_pairs(_drop_hot_keys(fp, "chunk_fp", max_chunk_docs), ["chunk_fp"], id_col)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_chunks"))
        .filter(F.col("n_shared_chunks") >= min_shared_chunks)
    )


def audio_constellation_fingerprints(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    frame_samples: int = 32,
    peaks_per_frame: int = 1,
    fanout: int = 2,
) -> DataFrame:
    """Shazam-style CONSTELLATION fingerprints of audio payloads — the
    frequency-domain complement of mm07's byte-domain CDC: payloads are
    read as int16 PCM, framed into non-overlapping ``frame_samples``
    windows, each frame's magnitude spectrum (rfft) reduced to its
    ``peaks_per_frame`` strongest bins (the "constellation" landmarks),
    and every landmark paired with the landmarks of the next ``fanout``
    frames as ``(f1, f2, dt)`` hashes (Wang 2003, the industrial
    audio-match scheme). The hash carries RELATIVE frame offsets only,
    so a copy shifted by any whole number of frames (a re-encode that
    prepends a frame-aligned header) shares every interior hash —
    offset invariance by construction, like CDC chunks but through the
    spectrum rather than the bytes.

    Landmark SPARSITY is the discrimination: the hash space is only
    ``n_bins² · fanout``, so emitting many landmarks per frame
    saturates it and unrelated noise starts colliding (measured:
    4 landmarks/frame → ~30% space occupancy per doc → unrelated
    random payloads shared ~60 hashes). The top-1 default keeps
    occupancy ~2%, and :func:`audio_constellation_near_dup` exposes a
    CONTAINMENT ratio so callers separate full-copy structure (→ 1.0)
    from background collision noise regardless.

    No codec dependency: the int16-PCM read IS the deterministic fake
    decode (the mm01-mm06 convention); a real deployment swaps the
    sample extraction, the constellation machinery is identical.
    One Arrow-batched scan emits ``(id, audio_fp int64)`` distinct —
    payload bytes never leave the scan, only 8-byte hashes shuffle.
    Bytes beyond the last full frame are dropped (stated); payloads
    shorter than 2 frames emit nothing. Peak ties break to the LOWEST
    bin (stable argsort), so fingerprints are bit-deterministic."""
    if frame_samples <= 0 or peaks_per_frame <= 0 or fanout <= 0:
        raise ValueError("frame_samples/peaks_per_frame/fanout must be positive")
    # packing bounds for (f1 << 20) | (f2 << 8) | dt: f2 is an rfft bin
    # index (max frame_samples//2), which must fit 12 bits, and dt must
    # fit 8 — past these the fields overlap and DISTINCT landmarks
    # silently collide into one hash (false near-dup pairs)
    if frame_samples // 2 + 1 > (1 << 12):
        raise ValueError(
            f"frame_samples={frame_samples}: rfft bin index exceeds the "
            "12-bit f2 field of the (f1,f2,dt) hash packing (max 8190)"
        )
    if fanout > 255:
        raise ValueError(
            f"fanout={fanout}: dt exceeds the 8-bit field of the hash packing"
        )

    import numpy as np

    frame_bytes = frame_samples * 2

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            ids, fps = [], []
            for i, b in zip(pdf[id_col], pdf[payload_col]):
                if b is None:
                    continue
                raw = bytes(b)
                n_frames = len(raw) // frame_bytes
                if n_frames < 2:
                    continue
                samples = np.frombuffer(
                    raw[: n_frames * frame_bytes], dtype="<i2"
                ).astype(np.float64)
                frames = samples.reshape(n_frames, frame_samples)
                mag = np.abs(np.fft.rfft(frames, axis=1))
                # top-k bins per frame; stable sort -> lowest bin wins ties
                k = min(peaks_per_frame, mag.shape[1])
                lm = np.argsort(-mag, axis=1, kind="stable")[:, :k]
                for t0 in range(n_frames):
                    for dt in range(1, min(fanout, n_frames - 1 - t0) + 1):
                        for f1 in lm[t0]:
                            for f2 in lm[t0 + dt]:
                                h = (int(f1) << 20) | (int(f2) << 8) | dt
                                ids.append(i)
                                fps.append(h)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "audio_fp": pd.Series(fps, dtype="int64"),
                }
            )

    return (
        df.select(id_col, payload_col)
        .mapInPandas(kernel, schema=f"{id_col} long, audio_fp long")
        .distinct()  # a hash repeated within one payload counts once
    )


def audio_constellation_near_dup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    *,
    frame_samples: int = 32,
    peaks_per_frame: int = 1,
    fanout: int = 2,
    min_containment: float = 0.8,
    max_fp_docs: int | None = None,
) -> DataFrame:
    """Audio near-dup pairs by shared constellation hashes — fingerprint
    with :func:`audio_constellation_fingerprints`, self-join on the
    8-byte hash (16 bytes/row through the exchange, the cdc rule),
    roll up to ``n_shared_hashes``, and score CONTAINMENT =
    shared / min(|A|, |B|): a full or padded copy scores exactly 1.0
    (its hash set is a superset of the original's interior), while
    background collisions in the small hash space stay far below —
    the decision is a ratio, not an absolute count, so it holds at
    any payload length. ``max_fp_docs`` is the hot-key cap of
    ``operators/dedup.py`` (a hash in every payload — a silence
    landmark — is a stop word)."""
    fp = _drop_hot_keys(
        audio_constellation_fingerprints(
            df, payload_col, id_col,
            frame_samples=frame_samples, peaks_per_frame=peaks_per_frame,
            fanout=fanout,
        ),
        "audio_fp",
        max_fp_docs,
    )
    sizes = fp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    shared = (
        _shared_key_pairs(fp, ["audio_fp"], id_col)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared_hashes"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("__nb"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "containment",
            F.col("n_shared_hashes") / F.least(F.col("__na"), F.col("__nb")),
        )
        .filter(F.col("containment") >= F.lit(float(min_containment)))
        .select("doc_a", "doc_b", "n_shared_hashes", "containment")
    )


def patch_grid(
    meta: DataFrame,
    id_col: str = "doc_id",
    *,
    patch: int = 64,
) -> DataFrame:
    """ViT-style patch-grid expansion: one row per (patch_row,
    patch_col) tile of each decoded image — the 1→N preprocessing step
    between ``decode_images`` and a vision-encoder batch. Edge tiles
    are CLIPPED (``ph``/``pw`` < ``patch``), matching the
    pad-free tiling a loader would feed a resize kernel; consumers that
    pad instead read the same grid and ignore ``ph``/``pw``.

    Input is the metadata frame (``id_col``, ``width``, ``height``) —
    decode runs once upstream, and this expansion is PURE JVM
    (a ``posexplode`` of one computed index sequence; the row/col
    arithmetic is codegen'd div/mod), so exploding a 100 TB corpus
    into patches never re-enters Python or reshuffles payload bytes.
    Rows with NULL dimensions (failed decode) expand to nothing.
    """
    if patch < 1:
        raise ValueError(f"patch must be >= 1, got {patch}")
    ny = F.ceil(F.col("height") / F.lit(patch)).cast("int")
    nx = F.ceil(F.col("width") / F.lit(patch)).cast("int")
    # degenerate decodes (NULL or zero/negative dimensions) expand to
    # nothing — without the > 0 guard, sequence(0, -1) emits [0, -1]
    # and the div/mod coords divide by zero
    ok = meta.filter(
        (F.col("width") > 0) & (F.col("height") > 0)
    ).select(
        id_col,
        "width",
        "height",
        nx.alias("__nx"),
        F.sequence(F.lit(0), ny * nx - 1).alias("__idx"),
    )
    py = (F.col("patch_idx") / F.col("__nx")).cast("int")
    px = F.col("patch_idx") % F.col("__nx")
    y0 = py * patch
    x0 = px * patch
    return (
        ok.select(
            id_col,
            "width",
            "height",
            "__nx",
            F.explode("__idx").alias("patch_idx"),
        )
        .select(
            id_col,
            F.col("patch_idx").cast("int").alias("patch_idx"),
            py.cast("int").alias("py"),
            px.cast("int").alias("px"),
            y0.cast("int").alias("y0"),
            x0.cast("int").alias("x0"),
            F.least(F.lit(patch), F.col("height") - y0).cast("int").alias("ph"),
            F.least(F.lit(patch), F.col("width") - x0).cast("int").alias("pw"),
        )
    )
