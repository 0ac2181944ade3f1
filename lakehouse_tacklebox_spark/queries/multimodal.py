"""Multimodal battery: binary media columns derived from documents.

The media fixture is pure column arithmetic over ``documents``
(``operators.multimodal.as_media``), so the DuckDB oracle can mirror it
exactly: payload = 4-byte magic + 10-byte ascii dims header + utf-8 text
body, hence n_bytes = 14 + octet_length(encode(text)).

JVM-expressible metadata/frame ops carry full oracles; the Arrow-batched
feature/decode paths (byte histograms, pixel-decode fake) are rows-only
checked here and value-checked in pytest.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from lakehouse_tacklebox_spark.operators import multimodal as MM
from lakehouse_tacklebox_spark.queries import register
from lakehouse_tacklebox_spark.sources import load_tables

_ORACLE_MEDIA = """
    media AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/mpeg' END AS mime,
               CAST(doc_id % 64 + 16 AS INTEGER) AS width,
               CAST(doc_id % 48 + 16 AS INTEGER) AS height,
               14 + octet_length(encode(text)) AS n_bytes
        FROM documents
    )
"""


def _media(spark, sf_dir):
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    return MM.as_media(docs)


@register(
    "mm_metadata_by_mime",
    tags=("multimodal",),
    oracle=f"""
    WITH {_ORACLE_MEDIA}
    SELECT mime,
           count(*)                                   AS n_docs,
           CAST(sum(n_bytes) AS BIGINT)               AS total_bytes,
           CAST(sum(n_bytes - 14) AS BIGINT)          AS total_body_bytes,
           CAST(max(width) AS INT)                    AS max_width,
           CAST(max(height) AS INT)                   AS max_height
    FROM media GROUP BY mime
    """,
)
def mm_metadata_by_mime(spark, sf_dir):
    """Media census: mime sniffed from magic bytes, sizes and dims parsed
    from the binary header — all JVM-side (SURVEY.md §2 multimodal)."""
    meta = MM.media_metadata(_media(spark, sf_dir))
    return meta.groupBy("mime").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_body_bytes").alias("total_body_bytes"),
        F.max("parsed_width").alias("max_width"),
        F.max("parsed_height").alias("max_height"),
    )


@register(
    "mm_frame_stats",
    bench=True,
    tags=("multimodal",),
    oracle=f"""
    WITH {_ORACLE_MEDIA},
    framed AS (
        SELECT mime, n_bytes,
               CAST(ceil(n_bytes / 4.0) AS BIGINT) AS frame_len,
               CAST(ceil(n_bytes / ceil(n_bytes / 4.0)) AS BIGINT) AS n_frames
        FROM media
    )
    SELECT mime,
           CAST(sum(n_frames) AS BIGINT) AS total_frames,
           CAST(sum(n_bytes) AS BIGINT)  AS total_frame_bytes,
           CAST(max(frame_len) AS BIGINT) AS max_frame_bytes
    FROM framed GROUP BY mime
    """,
)
def mm_frame_stats(spark, sf_dir):
    """Frame sampling: 4 equal slices per payload via
    transform(sequence)+posexplode (narrow, no shuffle); totals must
    reconstruct the original byte counts exactly."""
    media = MM.media_metadata(_media(spark, sf_dir))
    frames = MM.frame_sample(media, n_frames=4, keys=["doc_id", "mime"])
    return frames.groupBy("mime").agg(
        F.count(F.lit(1)).alias("total_frames"),
        F.sum("frame_bytes").cast("bigint").alias("total_frame_bytes"),
        F.max("frame_bytes").cast("bigint").alias("max_frame_bytes"),
    )


@register(
    "mm_decode_features",
    tags=("multimodal", "pandas_udf"),
    # Oracle: the payload is a REAL 24-bit BMP whose pixel byte i is the
    # analytic (doc_id + i) % 256, so DuckDB recomputes the decoded
    # statistics without a codec while the engine side round-trips the
    # actual bytes (LE header parse, stride/padding skip). If either the
    # encoder or the decoder mishandles one header field or padding
    # byte, pixel_bytes / mean_brightness diverge and the hash fails.
    oracle="""
    WITH img AS (
        SELECT doc_id,
               CAST(doc_id % 16 + 4 AS INTEGER) AS width,
               CAST(doc_id % 12 + 4 AS INTEGER) AS height
        FROM documents WHERE doc_id % 3 = 0
    )
    SELECT doc_id, width, height,
           CAST(3 * width * height AS BIGINT) AS pixel_bytes,
           round(list_aggregate([CAST((doc_id + i) % 256 AS DOUBLE)
                                 for i in range(3 * width * height)], 'avg'), 4) AS mean_brightness
    FROM img
    """,
)
def mm_decode_features(spark, sf_dir):
    """Arrow-batched REAL image decode: documents → real 24-bit BMP
    payloads (as_bmp_images) → mapInPandas header parse + pixel stats
    (decode_bmp). The whole byte path — little-endian header fields,
    4-byte row stride, bottom-up rows — is exercised against an analytic
    oracle; no codec library involved."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    bmp = MM.as_bmp_images(docs)
    decoded = MM.decode_bmp(bmp, keys=["doc_id"])
    return decoded.select(
        "doc_id", "width", "height", "pixel_bytes", F.round("mean_brightness", 4).alias("mean_brightness")
    )


@register(
    "mm_audio_features",
    bench=True,
    tags=("multimodal", "pandas_udf", "audio"),
    # Oracle: the payload is a REAL PCM16 mono WAV whose sample i is the
    # analytic ((doc_id*31 + i*7) % 2001) - 1000, so DuckDB recomputes
    # peak/RMS without an audio library while the engine chunk-walks the
    # actual RIFF bytes. Sums of squares stay < 2^53, so the double math
    # is exact and identical on both engines before the final round.
    oracle="""
    WITH aud AS (
        SELECT doc_id, CAST(doc_id % 800 + 200 AS BIGINT) AS n
        FROM documents WHERE doc_id % 3 = 1
    ), stats AS (
        SELECT doc_id, n,
               [CAST((doc_id * 31 + i * 7) % 2001 - 1000 AS DOUBLE) for i in range(n)] AS s
        FROM aud
    )
    SELECT doc_id,
           CAST(8000 AS INTEGER) AS sample_rate,
           n AS n_samples,
           CAST(floor(n * 1000 / 8000) AS BIGINT) AS duration_ms,
           CAST(list_max(list_transform(s, x -> abs(x))) AS BIGINT) AS peak_abs,
           round(sqrt(list_aggregate(list_transform(s, x -> x * x), 'avg')), 4) AS rms
    FROM stats
    """,
)
def mm_audio_features(spark, sf_dir):
    """Arrow-batched REAL audio decode: documents → real PCM16 mono WAV
    payloads (as_wav_audio) → mapInPandas RIFF chunk walk + sample stats
    (decode_wav). Exercises the full byte path — chunk traversal, fmt
    fields, LE int16 samples — against an analytic oracle, no audio
    library involved."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    wav = MM.as_wav_audio(docs)
    decoded = MM.decode_wav(wav, keys=["doc_id"])
    return decoded.select(
        "doc_id", "sample_rate", "n_samples", "duration_ms", "peak_abs",
        F.round("rms", 4).alias("rms"),
    )


@register(
    "mm_video_features",
    bench=True,
    tags=("multimodal", "pandas_udf", "video"),
    # Oracle: the payload is a REAL AVI container (RIFF lists, avih/strh/
    # strf headers, raw DIB frames with BMP row padding) whose pixel byte
    # i of frame f is the analytic (doc_id + f*13 + i) % 256 — DuckDB
    # recomputes the decoded statistics via one flat comprehension
    # (f = idx / frame_bytes, i = idx % frame_bytes) without a codec.
    oracle="""
    WITH vid AS (
        SELECT doc_id,
               CAST(doc_id % 4 + 2 AS INTEGER) AS n_frames,
               CAST(doc_id % 8 + 4 AS INTEGER) AS width,
               CAST(doc_id % 6 + 4 AS INTEGER) AS height,
               CAST(3 * (doc_id % 8 + 4) * (doc_id % 6 + 4) AS BIGINT) AS frame_bytes
        FROM documents WHERE doc_id % 3 = 2
    )
    SELECT doc_id, width, height, n_frames, frame_bytes,
           round(list_aggregate(
               [CAST((doc_id + (i // frame_bytes) * 13 + (i % frame_bytes)) % 256 AS DOUBLE)
                for i in range(n_frames * frame_bytes)], 'avg'), 4) AS mean_pixel
    FROM vid
    """,
)
def mm_video_features(spark, sf_dir):
    """Arrow-batched REAL video decode: documents → real uncompressed-DIB
    AVI payloads (as_avi_videos) → mapInPandas container walk + frame
    stats (decode_avi). Completes the byte-real multimodal triad
    (BMP image / WAV audio / AVI video) — RIFF list traversal, strf
    header parse, per-frame stride/padding handling, all against an
    analytic oracle with no codec library."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    avi = MM.as_avi_videos(docs)
    decoded = MM.decode_avi(avi, keys=["doc_id"])
    return decoded.select(
        "doc_id", "width", "height", "n_frames", "frame_bytes",
        F.round("mean_pixel", 4).alias("mean_pixel"),
    )


@register(
    "mm_block_dedup",
    bench=True,
    tags=("multimodal", "dedup", "storage"),
    oracle=f"""
    WITH {_ORACLE_MEDIA},
    blocks AS (
        SELECT d.doc_id,
               unnest([md5(d.text[(i-1)*64+1 : i*64])
                       for i in range(1, CAST(ceil(length(d.text)/64.0) AS BIGINT) + 1)]) AS bh
        FROM documents d
    )
    SELECT m.mime,
           count(*) AS total_blocks,
           CAST(count(DISTINCT b.bh) AS BIGINT) AS distinct_blocks,
           CAST(count(*) - count(DISTINCT b.bh) AS BIGINT) AS dup_blocks
    FROM blocks b JOIN media m ON b.doc_id = m.doc_id
    GROUP BY m.mime
    """,
)
def mm_block_dedup(spark, sf_dir):
    """Block-level storage dedup census over media payload bodies: the
    body is cut into fixed 64-char blocks, each block is md5-fingerprinted
    JVM-side, and per-mime distinct-vs-total block counts quantify the
    dedup ratio a content-addressed store would achieve. The block hash
    set is the basis of chunk-store dedup for large binary corpora; the
    shuffle moves 16-byte digests, never payloads."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    n_blocks = F.ceil(F.length("text") / 64).cast("int")
    # length(text)=0 would make sequence(1, 0) DESCEND ([1, 0]) and emit
    # two phantom md5('') blocks where the oracle's range(1, 1) emits
    # none — guard with an explicit empty array (fixtures have no empty
    # docs today; dirty corpora will).
    block_hashes = F.when(
        F.length("text") > 0,
        F.transform(
            F.sequence(F.lit(1), n_blocks),
            lambda i: F.md5(F.substring(F.col("text"), (i - F.lit(1)) * 64 + 1, F.lit(64))),
        ),
    ).otherwise(F.expr("cast(array() as array<string>)"))
    blocks = docs.select("doc_id", F.explode(block_hashes).alias("bh"))
    media = MM.media_metadata(_media(spark, sf_dir)).select("doc_id", "mime")
    return (
        blocks.join(media, "doc_id")
        .groupBy("mime")
        .agg(
            F.count(F.lit(1)).alias("total_blocks"),
            F.countDistinct("bh").alias("distinct_blocks"),
            (F.count(F.lit(1)) - F.countDistinct("bh")).alias("dup_blocks"),
        )
    )


def _neardup_cert_stats(fixture, pairs, id_col):
    """Flag-based planted-copy certification shared by the image/audio/
    video near-dup entries: source/copy counts and the copy<->source
    pair classification come from the fixture's (id, src_id, is_copy)
    manifest, never from id arithmetic — an additive id offset silently
    merges namespaces once real ids reach it (ADVICE r11); the manifest
    join is scale-free and direction-agnostic."""
    man = fixture.select(
        F.col(id_col).alias("mid"), "src_id", "is_copy"
    ).localCheckpoint(eager=True)  # payload column pruned: metadata only
    n_src = man.filter(F.col("is_copy") == 0).count()
    n_cop = man.filter(F.col("is_copy") == 1).count()
    ma = man.select(
        F.col("mid").alias("id_a"),
        F.col("src_id").alias("src_a"),
        F.col("is_copy").alias("copy_a"),
    )
    mb = man.select(
        F.col("mid").alias("id_b"),
        F.col("src_id").alias("src_b"),
        F.col("is_copy").alias("copy_b"),
    )
    stats = (
        pairs.join(F.broadcast(ma), "id_a")
        .join(F.broadcast(mb), "id_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.when(
                    ((F.col("copy_b") == 1) & (F.col("src_b") == F.col("id_a")))
                    | ((F.col("copy_a") == 1) & (F.col("src_a") == F.col("id_b"))),
                    1,
                ).otherwise(0)
            ).alias("n_cs"),
        )
        .collect()[0]
    )
    return n_src, n_cop, int(stats["n_pairs"] or 0), int(stats["n_cs"] or 0)


@register(
    "mm_image_phash_neardup",
    tags=("multimodal", "image", "dedup", "certification"),
    # SELF-CERTIFYING oracle (knn_ivf_recall_cert precedent): the pHash
    # values are codec+DCT outputs DuckDB can't recompute, but the
    # planted-duplicate structure is pure id arithmetic, so the oracle
    # independently derives n_images / n_copies / n_pairs and asserts
    # the two verdict flags. Measured margins on this construction:
    # copy↔source ≤ 2 bits, every other pair ≥ 12 bits at both gate scales, threshold 6 —
    # a hash regression (pooling, DCT, packing, banding) either loses a
    # copy pair or admits a false one, and either flips a flag or moves
    # n_pairs.
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 3 = 0) AS BIGINT) AS n_images,
           CAST(count(*) FILTER (WHERE doc_id % 9 = 0) AS BIGINT) AS n_copies,
           CAST(count(*) FILTER (WHERE doc_id % 9 = 0) AS BIGINT) AS n_pairs,
           CAST(1 AS INT) AS copies_all_matched,
           CAST(1 AS INT) AS no_false_pairs
    FROM documents
    """,
)
def mm_image_phash_neardup(spark, sf_dir):
    """Perceptual-hash near-duplicate detection over real BMP payloads:
    every image-modality document becomes a random-pixel 24-bit BMP and
    every ninth also plants a near-duplicate copy (brightness +7, sparse
    +5 pixel noise — the re-encode/levels-tweak class). Pipeline:
    Arrow-batched decode→pHash (8×8 pool → DCT-II → median-threshold →
    64-bit bigint), then ALL JVM-side: 4×16-bit band extraction
    (pigeonhole: any pair differing in ≤3 bits leaves ≥1 of the 4 bands
    untouched, so the planted ≤2-bit copies are guaranteed candidates;
    the ≤6 cut below is the exact-verify verdict, not the recall bound),
    band-bucket self-join, exact Hamming verify via xor+bit_count ≤ 6. The result certifies itself: all 56 planted
    copies pair with exactly their source and nothing else pairs.
    Scale: hash once per image (embarrassingly parallel), shuffle only
    (band, key) rows, candidates bounded by band-bucket occupancy —
    the SimHash/LSH physique applied to the image modality."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    imgs = MM.as_bmp_images_with_neardups(d)
    hashed = MM.image_phash(imgs, keys=["img_id"]).localCheckpoint(eager=True)
    bands = hashed.select(
        "img_id",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col("phash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("img_id", "phash", "b.band_idx", "b.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.img_id") < F.col("b.img_id")),
        )
        .select(
            F.col("a.img_id").alias("id_a"),
            F.col("b.img_id").alias("id_b"),
            F.col("a.phash").alias("ph_a"),
            F.col("b.phash").alias("ph_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("ph_a ^ ph_b")))
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b")
    )
    n_images, n_copies, n_pairs, n_cs = _neardup_cert_stats(imgs, pairs, "img_id")
    return spark.createDataFrame(
        [
            (
                n_images,
                n_copies,
                n_pairs,
                1 if n_cs == n_copies else 0,
                1 if n_pairs == n_copies else 0,
            )
        ],
        "n_images bigint, n_copies bigint, n_pairs bigint, copies_all_matched int, no_false_pairs int",
    )


@register(
    "mm_audio_fingerprint_neardup",
    tags=("multimodal", "audio", "dedup", "certification"),
    # SELF-CERTIFYING oracle, same design as mm_image_phash_neardup:
    # fingerprints are codec outputs DuckDB can't recompute, but the
    # planted-duplicate structure is id arithmetic — the oracle derives
    # n_clips / n_copies / n_pairs independently and asserts the
    # verdict flags. Measured margins through the real int16 WAV
    # round-trip at both gate scales: copy↔source ≤ 3 bits, any other
    # pair ≥ 11, verify cut 6. Pigeonhole: ≤3 differing bits leave ≥1
    # of the 4 bands untouched, so every planted copy is a guaranteed
    # band candidate.
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 3 = 1) AS BIGINT) AS n_clips,
           CAST(count(*) FILTER (WHERE doc_id % 9 = 1) AS BIGINT) AS n_copies,
           CAST(count(*) FILTER (WHERE doc_id % 9 = 1) AS BIGINT) AS n_pairs,
           CAST(1 AS INT) AS copies_all_matched,
           CAST(1 AS INT) AS no_false_pairs
    FROM documents
    """,
)
def mm_audio_fingerprint_neardup(spark, sf_dir):
    """Audio near-duplicate detection over real PCM16 WAV payloads: the
    fingerprint is 64 energy-delta sign bits (65 frame energies →
    diff → sign), which is EXACTLY invariant to uniform gain — the
    dominant audio re-encode difference — and robust to sparse additive
    noise. Every ninth clip plants a ×1.35-gain + sparse-noise copy;
    the pipeline (Arrow-batched RIFF decode → fingerprint bigint, then
    JVM-side 4×16-bit band LSH + xor/bit_count ≤ 6 verify) must pair
    each copy with exactly its source and nothing else. With text
    containment and image pHash this completes the modality triad of
    near-dup operators, all sharing the band-bucket shuffle physique
    (the shuffle moves (band, key) rows, never samples)."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    clips = MM.as_wav_audio_with_neardups(d)
    hashed = MM.audio_fingerprint(clips, keys=["clip_id"]).localCheckpoint(eager=True)
    bands = hashed.select(
        "clip_id",
        "afp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col("afp"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("clip_id", "afp", "b.band_idx", "b.band_key")
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.clip_id") < F.col("b.clip_id")),
        )
        .select(
            F.col("a.clip_id").alias("id_a"),
            F.col("b.clip_id").alias("id_b"),
            F.col("a.afp").alias("fp_a"),
            F.col("b.afp").alias("fp_b"),
        )
        .distinct()
        .withColumn("hamming", F.bit_count(F.expr("fp_a ^ fp_b")))
        .filter(F.col("hamming") <= 6)
        .select("id_a", "id_b")
    )
    n_clips, n_copies, n_pairs, n_cs = _neardup_cert_stats(clips, pairs, "clip_id")
    return spark.createDataFrame(
        [
            (
                n_clips,
                n_copies,
                n_pairs,
                1 if n_cs == n_copies else 0,
                1 if n_pairs == n_copies else 0,
            )
        ],
        "n_clips bigint, n_copies bigint, n_pairs bigint, copies_all_matched int, no_false_pairs int",
    )


@register(
    "mm_video_phash_neardup",
    tags=("multimodal", "video", "dedup", "certification"),
    # SELF-CERTIFYING oracle (same design as the image/audio near-dup
    # entries): per-frame hashes are codec+DCT outputs DuckDB can't
    # recompute; the planted structure is id arithmetic, so the oracle
    # derives n_videos / n_copies / n_pairs and asserts the verdict
    # flags. A video pair matches only if frame counts agree AND every
    # ALIGNED frame is within the 6-bit cut — per-frame margins are the
    # image fixture's measured ≤2 vs ≥12.
    oracle="""
    SELECT CAST(count(*) FILTER (WHERE doc_id % 3 = 2) AS BIGINT) AS n_videos,
           CAST(count(*) FILTER (WHERE doc_id % 9 = 2) AS BIGINT) AS n_copies,
           CAST(count(*) FILTER (WHERE doc_id % 9 = 2) AS BIGINT) AS n_pairs,
           CAST(1 AS INT) AS copies_all_matched,
           CAST(1 AS INT) AS no_false_pairs
    FROM documents
    """,
)
def mm_video_phash_neardup(spark, sf_dir):
    """Video near-duplicate detection over real AVI payloads: decode the
    container, pHash every frame, and declare two videos near-dups iff
    they have the same frame count and EVERY aligned frame pair sits
    within 6 bits — the re-encoded-clip shape (each frame brightness-
    shifted + sparsely noised). Candidates come from a banded LSH join
    on (frame_idx 0, band) so the quadratic step only sees first-frame
    bucket collisions; verification joins the full frame sequences and
    aggregates (count match + max Hamming) per candidate pair. With
    text containment, image pHash and the audio fingerprint this makes
    the near-dup family cover all four modalities on one shuffle
    physique: hash once per item in Arrow batches, move only (band,
    key) rows, verify exactly on the candidates."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    vids = MM.as_avi_videos_with_neardups(d)
    hashed = MM.video_frame_phash(vids, keys=["vid_id"]).localCheckpoint(eager=True)
    f0 = hashed.filter(F.col("frame_idx") == 0)
    bands = f0.select(
        "vid_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col("phash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("band_key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("vid_id", "b.band_idx", "b.band_key")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vid_id") < F.col("b.vid_id")),
        )
        .select(F.col("a.vid_id").alias("id_a"), F.col("b.vid_id").alias("id_b"))
        .distinct()
    )
    nf = hashed.groupBy("vid_id").agg(F.count(F.lit(1)).alias("nf"))
    ha = hashed.select(F.col("vid_id").alias("id_a"), "frame_idx", F.col("phash").alias("ph_a"))
    hb = hashed.select(F.col("vid_id").alias("id_b"), "frame_idx", F.col("phash").alias("ph_b"))
    verified = (
        cand.join(ha, "id_a")
        .join(hb, ["id_b", "frame_idx"])
        .withColumn("hamming", F.bit_count(F.expr("ph_a ^ ph_b")))
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("aligned"),
            F.max("hamming").alias("max_ham"),
        )
        .join(nf.select(F.col("vid_id").alias("id_a"), F.col("nf").alias("nf_a")), "id_a")
        .join(nf.select(F.col("vid_id").alias("id_b"), F.col("nf").alias("nf_b")), "id_b")
        .filter(
            (F.col("nf_a") == F.col("nf_b"))
            & (F.col("aligned") == F.col("nf_a"))
            & (F.col("max_ham") <= 6)
        )
        .select("id_a", "id_b")
    )
    n_videos, n_copies, n_pairs, n_cs = _neardup_cert_stats(vids, verified, "vid_id")
    return spark.createDataFrame(
        [
            (
                n_videos,
                n_copies,
                n_pairs,
                1 if n_cs == n_copies else 0,
                1 if n_pairs == n_copies else 0,
            )
        ],
        "n_videos bigint, n_copies bigint, n_pairs bigint, copies_all_matched int, no_false_pairs int",
    )


@register(
    "mm_audio_snippet_match",
    tags=("multimodal", "audio", "containment", "certification"),
    # The planted-containment structure is pure id arithmetic (offset =
    # (id·7) mod (frames−23), frames = id%16+32), so the oracle derives
    # the complete expected match table — snippet → source track at the
    # exact planted frame offset — without decoding a byte of audio.
    # The engine must recover every row from the WAV payloads alone via
    # landmark offset voting; a hash regression, a framing bug, or an
    # off-by-one in the vote delta moves offset_frames and fails the
    # hash compare, and any chance-collision false match flips
    # no_false_matches. The snippet ships at exact ×2 integer gain, so
    # every frame-delta sign survives the int16 round-trip by
    # construction and the true delta collects all 8 possible votes
    # deterministically. Sign votes alone are NOT sufficient at corpus
    # scale — 13/556 snippets at sf0.1 hit a wrong track at full votes
    # (a 23-bit pattern, ~2⁻²³ per trial, ~10⁷ trials) — so candidates
    # are verified by exact gain-invariant energy-ratio constancy
    # (operators/multimodal.py audio_snippet_matches stage 2), which no
    # chance sign-twin survives.
    oracle="""
    SELECT CAST(doc_id + 200000 AS BIGINT) AS snippet_id,
           CAST(doc_id AS BIGINT) AS track_id,
           CAST((doc_id * 7) % ((doc_id % 16 + 32) - 23) AS INT) AS offset_frames,
           CAST(1 AS INT) AS matched_true_offset,
           CAST(1 AS INT) AS no_false_matches
    FROM documents
    WHERE doc_id % 9 = 1
    ORDER BY snippet_id
    """,
)
def mm_audio_snippet_match(spark, sf_dir):
    """Audio CONTAINMENT detection (the clip-inside-a-track shape that
    whole-clip fingerprints structurally miss): per-frame energy-delta
    landmark hashes on both sides, hash join, offset-delta voting —
    every ``id % 9 = 1`` document's planted 24-frame snippet (shipped
    at exact ×2 gain — the landmark hash is gain-invariant) must match
    exactly its source track at exactly the planted frame offset, and
    nothing else may reach the vote threshold. The Shazam physique,
    public method (Wang, ISMIR 2003): hash once per clip (Arrow
    batches), shuffle only (hash, pos) rows then (pair, delta) votes —
    never raw samples. Completes the containment story across
    modalities (text: dedup_containment)."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    clips = MM.as_wav_audio_with_snippets(d)
    # role-based side split (NOT a clip_id threshold: replica id shifts
    # in scaled testdata would misclassify — the ADVICE r9 crop lesson
    # applied to the whole snippet family); each row decodes once in
    # its own side's pass.
    tracks = (
        MM.audio_frame_hashes(clips.filter(F.col("role") == "track"), keys=["clip_id"])
        .withColumnRenamed("clip_id", "track_id")
        .localCheckpoint(eager=True)
    )
    snips = (
        MM.audio_frame_hashes(clips.filter(F.col("role") == "snippet"), keys=["clip_id"])
        .withColumnRenamed("clip_id", "snippet_id")
        .localCheckpoint(eager=True)
    )
    matches = MM.audio_snippet_matches(tracks, snips, min_votes=5)
    expected = clips.filter(F.col("role") == "snippet").select(
        F.col("clip_id").alias("snippet_id"),
        F.col("src_id").alias("exp_track"),
        F.col("offset_frames").alias("exp_offset"),
    )
    j = matches.join(expected, "snippet_id", "full_outer")
    flags = j.agg(
        F.sum(
            F.when(
                (F.col("track_id") == F.col("exp_track"))
                & (F.col("offset_frames") == F.col("exp_offset")),
                1,
            ).otherwise(0)
        ).alias("n_true"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("exp_track").isNull(), 1).otherwise(0)).alias("n_unexpected"),
    )
    return (
        matches.crossJoin(F.broadcast(flags))
        .select(
            F.col("snippet_id").cast("bigint"),
            F.col("track_id").cast("bigint"),
            F.col("offset_frames").cast("int"),
            F.when(
                (F.col("n_true") == F.col("n_rows")) & (F.col("n_unexpected") == 0),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("int").alias("matched_true_offset"),
            F.when(F.col("n_unexpected") == 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("no_false_matches"),
        )
        .orderBy("snippet_id")
    )


@register(
    "mm_video_snippet_match",
    tags=("multimodal", "video", "containment", "certification"),
    # Same oracle design as mm_audio_snippet_match: the planted
    # containment is pure id arithmetic (offset = (id·5) mod (frames−5),
    # frames = id%8+12), so the oracle derives the full expected match
    # table — snippet → source track at the exact planted frame offset —
    # without decoding a byte of video. 64-bit frame pHashes make a
    # chance 6-frame agreement at one delta ~impossible, so full
    # coverage (votes = 6) IS the verify (contrast the audio path's
    # 16-bit landmarks, which need the energy-ratio stage).
    oracle="""
    SELECT CAST(doc_id + 200000 AS BIGINT) AS snippet_id,
           CAST(doc_id AS BIGINT) AS track_id,
           CAST((doc_id * 5) % ((doc_id % 8 + 12) - 5) AS INT) AS offset_frames,
           CAST(6 AS BIGINT) AS votes,
           CAST(1 AS INT) AS matched_true_offset,
           CAST(1 AS INT) AS no_false_matches
    FROM documents
    WHERE doc_id % 9 = 2
    ORDER BY snippet_id
    """,
)
def mm_video_snippet_match(spark, sf_dir):
    """Video CONTAINMENT detection (a clip reposted inside a longer
    compilation): per-frame DCT pHashes on both sides, hash join,
    offset-delta voting with full-coverage requirement — every
    ``id % 9 = 2`` document's planted 6-frame snippet must match exactly
    its source track at exactly the planted offset with all 6 frames
    voting, and nothing else may reach the threshold. Completes the
    containment spectrum across modalities (text: dedup_containment,
    audio: mm_audio_snippet_match). Hash once per frame in Arrow
    batches; shuffle only (hash, idx) rows then (pair, delta) votes."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    clips = MM.as_avi_videos_with_snippets(d)
    # role-based side split (see mm_audio_snippet_match note)
    tracks = (
        MM.video_frame_phash(clips.filter(F.col("role") == "track"), keys=["vid_id"])
        .withColumnRenamed("vid_id", "track_id")
        .localCheckpoint(eager=True)
    )
    snips = (
        MM.video_frame_phash(clips.filter(F.col("role") == "snippet"), keys=["vid_id"])
        .withColumnRenamed("vid_id", "snippet_id")
        .localCheckpoint(eager=True)
    )
    matches = MM.frame_sequence_matches(
        tracks, snips, hash_col="phash", min_votes=6
    )
    expected = clips.filter(F.col("role") == "snippet").select(
        F.col("vid_id").alias("snippet_id"),
        F.col("src_id").alias("exp_track"),
        F.col("offset_frames").alias("exp_offset"),
    )
    j = matches.join(expected, "snippet_id", "full_outer")
    flags = j.agg(
        F.sum(
            F.when(
                (F.col("track_id") == F.col("exp_track"))
                & (F.col("offset_frames") == F.col("exp_offset")),
                1,
            ).otherwise(0)
        ).alias("n_true"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("exp_track").isNull(), 1).otherwise(0)).alias("n_unexpected"),
    )
    return (
        matches.crossJoin(F.broadcast(flags))
        .select(
            F.col("snippet_id").cast("bigint"),
            F.col("track_id").cast("bigint"),
            F.col("offset_frames").cast("int"),
            F.col("votes").cast("bigint"),
            F.when(
                (F.col("n_true") == F.col("n_rows")) & (F.col("n_unexpected") == 0),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("int").alias("matched_true_offset"),
            F.when(F.col("n_unexpected") == 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("no_false_matches"),
        )
        .orderBy("snippet_id")
    )


@register(
    "mm_image_crop_match",
    tags=("multimodal", "image", "containment", "certification"),
    # Same oracle design as the audio/video snippet entries: the planted
    # containment is pure id arithmetic (tile grid tw = (id%16+16)//4,
    # th = (id%12+16)//4; crop offset ox = (id*3) mod (tw-2),
    # oy = (id*5) mod (th-2)), so the oracle derives the full expected
    # match table — crop → source image at the exact planted (dx, dy)
    # tile displacement — without decoding a byte. 64-bit xxhash cell
    # hashes make a chance 9-cell agreement at one displacement
    # ~impossible, so full coverage (votes = 9) IS the verify.
    oracle="""
    SELECT CAST(doc_id + 300000 AS BIGINT) AS crop_id,
           CAST(doc_id AS BIGINT) AS image_id,
           CAST((doc_id * 3) % ((doc_id % 16 + 16) // 4 - 2) AS INT) AS dx,
           CAST((doc_id * 5) % ((doc_id % 12 + 16) // 4 - 2) AS INT) AS dy,
           CAST(9 AS BIGINT) AS votes,
           CAST(1 AS INT) AS matched_true_offset,
           CAST(1 AS INT) AS no_false_matches
    FROM documents
    WHERE doc_id % 9 = 0
    ORDER BY crop_id
    """,
)
def mm_image_crop_match(spark, sf_dir):
    """Image CONTAINMENT detection (a cropped region reposted as its own
    image — thumbnails, quote-crops): 4×4-cell tile hashes on both
    sides, hash join, 2-D (dx, dy) displacement voting with
    full-coverage requirement — every ``id % 9 = 0`` document's planted
    3×3-tile crop must match exactly its source image at exactly the
    planted tile offset with all 9 cells voting, and nothing else may
    reach the threshold. Completes the containment spectrum across all
    four modalities (text: dedup_containment, audio:
    mm_audio_snippet_match, video: mm_video_snippet_match, image: this).
    Tile bytes are sliced in one reshape per image; hashing (xxhash64),
    the join, and the vote census are JVM-side; shuffle is linear in
    tiles."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    imgs = MM.as_bmp_images_with_crops(d)
    # Split sides by the fixture's role column BEFORE hashing (NOT an
    # img_id threshold: sf1 testdata shifts doc_ids by r*19,200,000 per
    # replica, so any id cutoff misclassifies replica>=1 images as crops
    # — ADVICE r9). Same shape as mm_image_freecrop_match; each row is
    # still decoded exactly once (in its own side's pass).
    full = (
        MM.image_tile_hashes(imgs.filter(F.col("role") == "image"), keys=["img_id"])
        .withColumnRenamed("img_id", "image_id")
        .localCheckpoint(eager=True)
    )
    crop = (
        MM.image_tile_hashes(imgs.filter(F.col("role") == "crop"), keys=["img_id"])
        .withColumnRenamed("img_id", "crop_id")
        .localCheckpoint(eager=True)
    )
    matches = MM.tile_offset_matches(full, crop, min_votes=9)
    expected = imgs.filter(F.col("role") == "crop").select(
        F.col("img_id").alias("crop_id"),
        F.col("src_id").alias("exp_image"),
        F.col("off_x").alias("exp_dx"),
        F.col("off_y").alias("exp_dy"),
    )
    j = matches.join(expected, "crop_id", "full_outer")
    flags = j.agg(
        F.sum(
            F.when(
                (F.col("image_id") == F.col("exp_image"))
                & (F.col("dx") == F.col("exp_dx"))
                & (F.col("dy") == F.col("exp_dy")),
                1,
            ).otherwise(0)
        ).alias("n_true"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("exp_image").isNull(), 1).otherwise(0)).alias("n_unexpected"),
    )
    return (
        matches.crossJoin(F.broadcast(flags))
        .select(
            F.col("crop_id").cast("bigint"),
            F.col("image_id").cast("bigint"),
            F.col("dx").cast("int"),
            F.col("dy").cast("int"),
            F.col("votes").cast("bigint"),
            F.when(
                (F.col("n_true") == F.col("n_rows")) & (F.col("n_unexpected") == 0),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("int").alias("matched_true_offset"),
            F.when(F.col("n_unexpected") == 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("no_false_matches"),
        )
        .orderBy("crop_id")
    )


@register(
    "mm_image_freecrop_match",
    tags=("multimodal", "image", "containment", "certification"),
    # The NON-ALIGNED generalization of mm_image_crop_match: crops are
    # planted at arbitrary pixel offsets px = (id*3) mod (w-11),
    # py = (id*5) mod (h-11), so the matcher must recover the tile-grid
    # PHASE from the evidence (hash the crop at all 16 phases, vote per
    # recovered pixel offset). Expected full-coverage votes are id
    # arithmetic too: 3 source-aligned cells per axis when the phase is
    # 0, else 2 — so the oracle pins crop -> source, the EXACT pixel
    # offset, and the exact vote count, all without decoding a byte.
    oracle="""
    SELECT CAST(doc_id + 400000 AS BIGINT) AS crop_id,
           CAST(doc_id AS BIGINT) AS image_id,
           CAST((doc_id * 3) % ((doc_id % 16 + 16) - 11) AS INT) AS px,
           CAST((doc_id * 5) % ((doc_id % 12 + 16) - 11) AS INT) AS py,
           CAST((CASE WHEN (doc_id * 3) % ((doc_id % 16 + 16) - 11) % 4 = 0
                      THEN 3 ELSE 2 END)
              * (CASE WHEN (doc_id * 5) % ((doc_id % 12 + 16) - 11) % 4 = 0
                      THEN 3 ELSE 2 END) AS BIGINT) AS votes,
           CAST(1 AS INT) AS matched_true_offset,
           CAST(1 AS INT) AS no_false_matches
    FROM documents
    WHERE doc_id % 9 = 0
    ORDER BY crop_id
    """,
)
def mm_image_freecrop_match(spark, sf_dir):
    """Image containment at ARBITRARY (non-tile-aligned) crop offsets —
    the realistic version of mm_image_crop_match: a reposted crop does
    not respect anyone's tile grid, so the probe side is hashed at all
    16 grid phases in one decode pass (image_tile_hashes_phased) and
    the vote histogram keys directly on the recovered PIXEL offset
    ``px = 4·dx − sx`` (the (phase, displacement) → pixel-offset map is
    injective). Only the true phase aligns crop cells with source
    cells, so every planted crop must surface at exactly its planted
    pixel offset with exactly its geometry-determined vote count, and
    nothing else may reach the threshold. Corpus side stays
    single-phase: the 16× fan-out is confined to the (small) probe
    side, which is how a crawl-scale dedup would deploy it."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    imgs = MM.as_bmp_images_with_freecrops(d)
    full = (
        MM.image_tile_hashes(imgs.filter(F.col("role") == "image"), keys=["img_id"])
        .withColumnRenamed("img_id", "image_id")
    )
    crop = (
        MM.image_tile_hashes_phased(imgs.filter(F.col("role") == "crop"), keys=["img_id"])
        .withColumnRenamed("img_id", "crop_id")
    )
    matches = MM.phased_offset_matches(full, crop, min_votes=4)
    expected = imgs.filter(F.col("role") == "crop").select(
        F.col("img_id").alias("crop_id"),
        F.col("src_id").alias("exp_image"),
        F.col("off_x").alias("exp_px"),
        F.col("off_y").alias("exp_py"),
    )
    j = matches.join(expected, "crop_id", "full_outer")
    flags = j.agg(
        F.sum(
            F.when(
                (F.col("image_id") == F.col("exp_image"))
                & (F.col("px") == F.col("exp_px"))
                & (F.col("py") == F.col("exp_py")),
                1,
            ).otherwise(0)
        ).alias("n_true"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("exp_image").isNull(), 1).otherwise(0)).alias("n_unexpected"),
    )
    return (
        matches.crossJoin(F.broadcast(flags))
        .select(
            F.col("crop_id").cast("bigint"),
            F.col("image_id").cast("bigint"),
            F.col("px").cast("int"),
            F.col("py").cast("int"),
            F.col("votes").cast("bigint"),
            F.when(
                (F.col("n_true") == F.col("n_rows")) & (F.col("n_unexpected") == 0),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("int").alias("matched_true_offset"),
            F.when(F.col("n_unexpected") == 0, F.lit(1))
            .otherwise(F.lit(0))
            .cast("int")
            .alias("no_false_matches"),
        )
        .orderBy("crop_id")
    )


@register(
    "mm_image_crop_pruned_probe",
    tags=("multimodal", "image", "dedup", "tablestore", "data-skipping"),
    # The STORAGE half of visual containment (the knn_ivf_pruned_scan
    # treatment applied to the image modality): the corpus' tile hashes
    # live in a TackleTable z-ordered by the 64-bit cell hash, and a
    # single suspect crop's 9 tile hashes become 9 point-equality scans
    # the log's min/max stats prune to the files actually holding those
    # hashes — "which image contains this crop" WITHOUT scanning the
    # store. Flags: files_skipped (uniform xxhash64 keys over ~16+
    # range-clustered files => 9 probes touch at most 9, measured
    # skipping most of the store), pruned_equals_inmemory (voting over
    # the pruned scans == voting over the full in-memory tile frame,
    # row-for-row), and the match row itself is id arithmetic the
    # oracle derives (doc 9: 25x25 img, tile offset (3,1), 9/9 votes).
    oracle="""
    SELECT CAST(300009 AS BIGINT) AS crop_id,
           CAST(9 AS BIGINT) AS image_id,
           CAST(3 AS INT) AS dx,
           CAST(1 AS INT) AS dy,
           CAST(9 AS BIGINT) AS votes,
           CAST(1 AS INT) AS files_skipped,
           CAST(1 AS INT) AS pruned_equals_inmemory
    FROM documents WHERE doc_id = 9
    """,
)
def mm_image_crop_pruned_probe(spark, sf_dir):
    """Visual containment as a STORE LOOKUP — the deployed shape of
    mm_image_crop_match's batch census: tile hashes of the image corpus
    are written once to a TackleTable z-ordered by hash (the same table
    that serves batch dedup), and a single suspect crop probes it with
    9 point-equality scans that file-skipping prunes to O(files per
    hash). At 100 TB this is the visual twin of the ANN probe path:
    the corpus' pixels never move, the probe reads a handful of files,
    and one store serves both the standing dedup census and ad-hoc
    "find the source of this crop" forensics. The planted-crop fixture
    makes the expected match pure id arithmetic, so the oracle pins the
    full answer, not just bookkeeping."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    imgs = MM.as_bmp_images_with_crops(d)
    full = (
        MM.image_tile_hashes(imgs.filter(F.col("role") == "image"), keys=["img_id"])
        .withColumnRenamed("img_id", "image_id")
        .localCheckpoint(eager=True)
    )
    tmp = tempfile.mkdtemp(prefix="tilestore_")
    t = TackleTable.create(spark, os.path.join(tmp, "tiles"), full)
    n = full.count()
    t.optimize(target_file_rows=max(64, n // 16), zorder_by=["th"])

    probe_crop = 300009  # doc 9's planted crop — exists at every gate SF
    crop = (
        MM.image_tile_hashes(imgs.filter(F.col("img_id") == probe_crop), keys=["img_id"])
        .withColumnRenamed("img_id", "crop_id")
        .localCheckpoint(eager=True)
    )
    hashes = sorted({r["th"] for r in crop.select("th").collect()})  # 9 rows
    files_all = set(t.snapshot().files)
    kept: set = set()
    frames = []
    for h in hashes:
        k_, _ = t.prune_files(f"th = {h}")
        kept |= set(k_)
        frames.append(t.scan(f"th = {h}"))
    n_skipped = len(files_all - kept)
    pruned = frames[0]
    for fr in frames[1:]:
        pruned = pruned.unionByName(fr)

    a = MM.tile_offset_matches(pruned, crop, min_votes=9).localCheckpoint(eager=True)
    b = MM.tile_offset_matches(full, crop, min_votes=9)
    n_a, n_b = a.count(), b.count()
    n_same = a.join(b, ["crop_id", "image_id", "dx", "dy", "votes"]).count()
    pruned_ok = (n_a == n_b) and (n_same == n_a)

    return (
        a.select(
            F.col("crop_id").cast("bigint"),
            F.col("image_id").cast("bigint"),
            F.col("dx").cast("int"),
            F.col("dy").cast("int"),
            F.col("votes").cast("bigint"),
            F.lit(1 if n_skipped > 0 else 0).cast("int").alias("files_skipped"),
            F.lit(1 if pruned_ok else 0).cast("int").alias("pruned_equals_inmemory"),
        )
        .orderBy("crop_id")
    )


@register(
    "mm_audio_snippet_pruned_probe",
    tags=("multimodal", "audio", "containment", "tablestore", "data-skipping"),
    # Audio search through the DEPLOYED index pair — inverted + forward,
    # the Shazam-at-rest layout: the corpus' landmark rows live TWICE,
    # once z-ordered by the landmark hash (the inverted index: a
    # suspect snippet's 8 hashes become point-equality scans) and once
    # z-ordered by track_id (the forward index: the vote stage's
    # candidate tracks are read back whole for the exact gain-ratio
    # verify, which needs ALL overlapped positions' energies, not just
    # hash-matching rows). Pruning is sound end-to-end: inverted scans
    # keep every row matching a probe hash (stats pruning never loses),
    # so candidate (track, delta) vote counts equal the global counts;
    # forward scans then hand the verifier complete candidate tracks.
    # The expected match is id arithmetic (doc 1: 33 frames, offset
    # 7 % 10 = 7, all 8 snippet positions vote); pruned result ==
    # in-memory result is flag-certified on top.
    oracle="""
    SELECT CAST(200001 AS BIGINT) AS snippet_id,
           CAST(1 AS BIGINT) AS track_id,
           CAST(7 AS INT) AS offset_frames,
           CAST(8 AS BIGINT) AS votes,
           CAST(1 AS INT) AS inv_files_skipped,
           CAST(1 AS INT) AS fwd_files_skipped,
           CAST(1 AS INT) AS pruned_equals_inmemory
    FROM documents WHERE doc_id = 1
    """,
)
def mm_audio_snippet_pruned_probe(spark, sf_dir):
    """"Which track contains this clip" as a STORE LOOKUP — the audio
    twin of mm_image_crop_pruned_probe, with the extra structure real
    audio search deploys: an INVERTED landmark table (z-ordered by
    hash) answers the vote stage from a handful of point-pruned files,
    and a FORWARD table (z-ordered by track_id) serves the candidate
    tracks' complete energy rows to the exact gain-invariant verify.
    At 100 TB the probe cost is O(files per landmark hash) + O(files
    per candidate track); the corpus' samples never move and the same
    two tables serve the standing batch dedup
    (mm_audio_snippet_match)."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    clips = MM.as_wav_audio_with_snippets(d)
    tracks = (
        MM.audio_frame_hashes(clips.filter(F.col("role") == "track"), keys=["clip_id"])
        .withColumnRenamed("clip_id", "track_id")
        .localCheckpoint(eager=True)
    )
    n = tracks.count()
    tmp = tempfile.mkdtemp(prefix="audioidx_")
    inv = TackleTable.create(spark, os.path.join(tmp, "inv"), tracks)
    inv.optimize(target_file_rows=max(64, n // 16), zorder_by=["fh"])
    fwd = TackleTable.create(spark, os.path.join(tmp, "fwd"), tracks)
    fwd.optimize(target_file_rows=max(64, n // 16), zorder_by=["track_id"])

    probe_id = 200001  # doc 1's planted snippet — exists at every gate SF
    probe = (
        MM.audio_frame_hashes(
            clips.filter(F.col("clip_id") == probe_id), keys=["clip_id"]
        )
        .withColumnRenamed("clip_id", "snippet_id")
        .localCheckpoint(eager=True)
    )
    hashes = sorted({r["fh"] for r in probe.select("fh").collect()})

    inv_all = set(inv.snapshot().files)
    inv_kept: set = set()
    inv_frames = []
    for h in hashes:
        k_, _ = inv.prune_files(f"fh = {h}")
        inv_kept |= set(k_)
        inv_frames.append(inv.scan(f"fh = {h}"))
    inv_rows = inv_frames[0]
    for fr in inv_frames[1:]:
        inv_rows = inv_rows.unionByName(fr)
    inv_skipped = len(inv_all - inv_kept)

    # vote stage over the pruned inverted scans nominates candidates
    cand = sorted(
        r["track_id"]
        for r in (
            probe.select(F.col("pos").alias("s_pos"), "fh")
            .join(inv_rows.select("track_id", F.col("pos").alias("t_pos"), "fh"), "fh")
            .groupBy("track_id", (F.col("t_pos") - F.col("s_pos")).alias("d"))
            .agg(F.count(F.lit(1)).alias("v"))
            .filter((F.col("v") >= 5) & (F.col("d") >= 0))
            .select("track_id")
            .distinct()
            .collect()
        )
    )
    fwd_all = set(fwd.snapshot().files)
    fwd_kept: set = set()
    fwd_frames = []
    for tid in cand:
        k_, _ = fwd.prune_files(f"track_id = {tid}")
        fwd_kept |= set(k_)
        fwd_frames.append(fwd.scan(f"track_id = {tid}"))
    fwd_rows = fwd_frames[0]
    for fr in fwd_frames[1:]:
        fwd_rows = fwd_rows.unionByName(fr)
    fwd_skipped = len(fwd_all - fwd_kept)

    a = MM.audio_snippet_matches(fwd_rows, probe, min_votes=5).localCheckpoint(
        eager=True
    )
    b = MM.audio_snippet_matches(tracks, probe, min_votes=5)
    n_a, n_b = a.count(), b.count()
    n_same = a.join(b, ["snippet_id", "track_id", "offset_frames", "votes"]).count()
    pruned_ok = (n_a == n_b) and (n_same == n_a)

    return (
        a.select(
            F.col("snippet_id").cast("bigint"),
            F.col("track_id").cast("bigint"),
            F.col("offset_frames").cast("int"),
            F.col("votes").cast("bigint"),
            F.lit(1 if inv_skipped > 0 else 0).cast("int").alias("inv_files_skipped"),
            F.lit(1 if fwd_skipped > 0 else 0).cast("int").alias("fwd_files_skipped"),
            F.lit(1 if pruned_ok else 0).cast("int").alias("pruned_equals_inmemory"),
        )
        .orderBy("snippet_id")
    )


@register(
    "mm_video_snippet_pruned_probe",
    tags=("multimodal", "video", "containment", "tablestore", "data-skipping"),
    # Video clip lookup through the pruned store — completing the probe
    # family across modalities (image: mm_image_crop_pruned_probe,
    # audio: mm_audio_snippet_pruned_probe): the corpus' per-frame
    # pHashes live in a TackleTable z-ordered by the 64-bit hash, and a
    # suspect 6-frame clip's hashes become point-equality scans the
    # log's stats prune. Unlike audio, 64-bit frame hashes need NO
    # verify stage (chance 6-frame agreement at one delta ~2^-384), so
    # the single inverted store IS the whole query — offset voting over
    # only hash-matching rows, which pruning provably preserves. The
    # expected match is id arithmetic (doc 2: 14-frame track, offset
    # 10 % 9 = 1, all 6 frames vote); pruned == in-memory is
    # flag-certified on top.
    oracle="""
    SELECT CAST(200002 AS BIGINT) AS snippet_id,
           CAST(2 AS BIGINT) AS track_id,
           CAST(1 AS INT) AS offset_frames,
           CAST(6 AS BIGINT) AS votes,
           CAST(1 AS INT) AS files_skipped,
           CAST(1 AS INT) AS pruned_equals_inmemory
    FROM documents WHERE doc_id = 2
    """,
)
def mm_video_snippet_pruned_probe(spark, sf_dir):
    """"Which compilation contains this clip" as a STORE LOOKUP — the
    video member of the pruned-probe family: per-frame pHashes z-ordered
    by hash, a 6-frame suspect clip probes with 6 point-equality scans,
    and frame-offset voting over the pruned rows returns the source
    track at the exact planted offset. At 100 TB the probe reads
    O(files per frame hash); pixels never move; the same table serves
    the standing near-dup census (mm_video_snippet_match) and ad-hoc
    clip forensics."""
    import os
    import tempfile

    from lakehouse_tacklebox_spark.tablestore.table import TackleTable

    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    clips = MM.as_avi_videos_with_snippets(d)
    tracks = (
        MM.video_frame_phash(clips.filter(F.col("role") == "track"), keys=["vid_id"])
        .withColumnRenamed("vid_id", "track_id")
        .localCheckpoint(eager=True)
    )
    n = tracks.count()
    tmp = tempfile.mkdtemp(prefix="videoidx_")
    t = TackleTable.create(spark, os.path.join(tmp, "frames"), tracks)
    t.optimize(target_file_rows=max(64, n // 16), zorder_by=["phash"])

    probe_id = 200002  # doc 2's planted clip — exists at every gate SF
    probe = (
        MM.video_frame_phash(
            clips.filter(F.col("vid_id") == probe_id), keys=["vid_id"]
        )
        .withColumnRenamed("vid_id", "snippet_id")
        .localCheckpoint(eager=True)
    )
    hashes = sorted({r["phash"] for r in probe.select("phash").collect()})
    files_all = set(t.snapshot().files)
    kept: set = set()
    frames = []
    for h in hashes:
        k_, _ = t.prune_files(f"phash = {h}")
        kept |= set(k_)
        frames.append(t.scan(f"phash = {h}"))
    pruned = frames[0]
    for fr in frames[1:]:
        pruned = pruned.unionByName(fr)
    n_skipped = len(files_all - kept)

    a = MM.frame_sequence_matches(pruned, probe, "phash", min_votes=6).localCheckpoint(
        eager=True
    )
    b = MM.frame_sequence_matches(tracks, probe, "phash", min_votes=6)
    n_a, n_b = a.count(), b.count()
    n_same = a.join(b, ["snippet_id", "track_id", "offset_frames", "votes"]).count()
    pruned_ok = (n_a == n_b) and (n_same == n_a)

    return (
        a.select(
            F.col("snippet_id").cast("bigint"),
            F.col("track_id").cast("bigint"),
            F.col("offset_frames").cast("int"),
            F.col("votes").cast("bigint"),
            F.lit(1 if n_skipped > 0 else 0).cast("int").alias("files_skipped"),
            F.lit(1 if pruned_ok else 0).cast("int").alias("pruned_equals_inmemory"),
        )
        .orderBy("snippet_id")
    )


@register(
    "mm_media_validate",
    tags=("multimodal", "validation", "certification"),
    # Ingest-quality gate for media: real BMP/WAV/AVI payloads with
    # DETERMINISTICALLY PLANTED damage — doc_id % 5 == 0 truncated to
    # 12 bytes (signature survives, container parse cannot), % 5 == 1
    # first two bytes stomped (signature broken) — classified from the
    # BYTES by the same parsers the pipeline decodes with. The oracle
    # pins the (mime, verdict) census by id arithmetic: a lax parser
    # (accepting a truncated container) or an overstrict one (rejecting
    # a valid payload) moves a count and fails the hash. The WAV-family
    # subtlety the truncation exposes: 12 bytes = exactly RIFF+size+
    # WAVE, so the magic check passes and only the full chunk walk
    # catches it — which is why validation MUST share the decoder.
    oracle="""
    WITH m AS (
        SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/bmp'
                    WHEN doc_id % 3 = 1 THEN 'audio/wav'
                    ELSE 'video/avi' END AS mime,
               CASE WHEN doc_id % 5 = 0 THEN 'corrupt'
                    WHEN doc_id % 5 = 1 THEN 'bad_magic'
                    ELSE 'ok' END AS verdict
        FROM documents
    )
    SELECT mime, verdict, CAST(count(*) AS BIGINT) AS n
    FROM m GROUP BY 1, 2
    ORDER BY mime, verdict
    """,
)
def mm_media_validate(spark, sf_dir):
    """Media ingest validation census: every document's real container
    payload (BMP/WAV/AVI by modality cycle) passes through byte-level
    validation — container signature check, then the full parse with
    the SAME decoders the pipeline uses — after deterministic damage is
    planted (truncate-to-12-bytes keeps the RIFF/BM signature but
    breaks the container; stomping the first two bytes breaks the
    signature). Verdict counts per (mime, verdict) must reproduce the
    planted structure exactly. Scale: one Arrow pass over payload
    bytes, embarrassingly parallel, no shuffle until the tiny census —
    the cheap gate that keeps truncated crawl objects out of the
    expensive decode/hash stages."""
    d = load_tables(spark, sf_dir, ["documents"])["documents"]
    bmp = MM.as_bmp_images(d).select(
        F.col("doc_id"), F.lit("image/bmp").alias("mime"), "payload"
    )
    wav = MM.as_wav_audio(d).select(
        F.col("doc_id"), F.lit("audio/wav").alias("mime"), "payload"
    )
    avi = MM.as_avi_videos(d).select(
        F.col("doc_id"), F.lit("video/avi").alias("mime"), "payload"
    )
    media = bmp.unionByName(wav).unionByName(avi)

    damaged = media.select(
        "doc_id",
        "mime",
        F.when(F.col("doc_id") % 5 == 0, F.substring(F.col("payload"), 1, 12))
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(
                F.lit(bytearray(b"XX")),
                F.substring(F.col("payload"), 3, 1 << 30),
            ),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    verdicts = MM.validate_media(damaged, keys=["doc_id"])
    return (
        verdicts.groupBy("mime", "verdict")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("mime", "verdict")
    )
