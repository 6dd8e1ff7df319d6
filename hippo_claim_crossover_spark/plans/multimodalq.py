"""Multimodal queries (§2b): binary payload metadata (oracle-checked) and
the stub-decoded feature extraction (rows-only — mapInPandas with a
deterministic fake codec, see ``multimodal.py``)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hippo_claim_crossover_spark.multimodal import (
    attach_binary_payload,
    decode_media,
    materialize_binary_fixture,
    read_binary_files,
    sample_frames,
)
from hippo_claim_crossover_spark.plans.base import QuerySpec, t
from hippo_claim_crossover_spark.session import fixture_dir, materialize


def q_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column metadata: payload size + sha256 digest + routed media
    type — pure built-ins over a BinaryType column."""
    d = t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(payload).alias("n_bytes"),
        F.sha2(payload, 256).alias("digest"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video").alias("media_type"),
    )


ORACLE_MM_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       sha256(text) AS digest,
       CASE WHEN doc_id % 3 = 0 THEN 'image'
            WHEN doc_id % 3 = 1 THEN 'audio'
            ELSE 'video' END AS media_type
FROM documents
"""


N_BINFILES = 100


def q_mm_binfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-media ingestion through ``spark.read.format("binaryFile")``:
    materialize a bounded ``doc_<id>.bin`` fixture set (payload = doc
    text; the parquet fixtures ship no real media), read the files back
    through the binaryFile source with a path glob, parse the id out of
    the file path, and emit (doc_id, n_bytes, digest) — byte length from
    the source's own ``length`` column and sha-256 over the BinaryType
    ``content``. Oracle: DuckDB computes the identical triple straight
    from the documents table, so a mismatch anywhere in write → list →
    read → hash fails the gate. The file set is exists-guarded input
    setup, written once per (session, sf_dir)."""
    d = t(spark, sf_dir, "documents")
    out_dir = fixture_dir(
        spark, "binfiles", sf_dir,
        lambda out: materialize_binary_fixture(d, out, max_files=N_BINFILES))
    files = read_binary_files(spark, out_dir, glob="*.bin")
    return files.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
        .cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("digest"),
    )


ORACLE_MM_BINFILE = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS digest
FROM documents WHERE doc_id < {N_BINFILES}
"""


def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stub decode pipeline: binary payload → mapInPandas fake codec →
    typed features, aggregated per media type.

    Fully oracle-checked: the fake codec's features are sha256-byte
    arithmetic over the payload (multimodal._decode_one — width/height
    from digest bytes 0/1, frame count from byte 2), which DuckDB
    reproduces exactly from hex-substring parsing of ``sha256(text)``.
    The driver's hash therefore exercises the whole Arrow decode path —
    schema, batch iteration, payload bytes — end to end, not rows-only."""
    media = attach_binary_payload(t(spark, sf_dir, "documents"))
    feats = decode_media(media, fake=True)
    return (
        feats.groupBy("media_type")
        .agg(F.count(F.lit(1)).alias("n_media"),
             F.sum("n_bytes").alias("total_bytes"),
             F.max("width").alias("max_width"),
             F.max("n_frames").alias("max_frames"))
    )


ORACLE_MM_DECODE = """
WITH f AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         sha256(text) AS dg,
         octet_length(encode(text)) AS n_bytes
  FROM documents
), feat AS (
  SELECT media_type, n_bytes,
         16 + CAST(('0x' || substr(dg, 1, 2)) AS INTEGER) AS width,
         CASE WHEN media_type = 'image' THEN 1
              ELSE 1 + CAST(('0x' || substr(dg, 5, 2)) AS INTEGER) % 32
         END AS n_frames
  FROM f
)
SELECT media_type, count(*) AS n_media,
       CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
       max(width) AS max_width, max(n_frames) AS max_frames
FROM feat GROUP BY media_type
"""


_FRAME_NTH, _FRAME_MAX = 8, 4


def q_mm_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the decoded media stream: every 8th frame,
    capped at 4 per object (``multimodal.sample_frames`` —
    ``sequence`` + ``slice`` + ``explode``, the JVM-side fan-out a video
    pipeline runs before per-frame feature extraction), rolled up per
    media type.

    Exactly oracle-checked end to end: the frame counts derive from the
    stub codec's sha256-byte ``n_frames`` (multimodal._decode_one), and
    for a 0-based every-Nth sample the per-object sampled count is
    ``least(cap, (n_frames−1) div N + 1)`` with max index
    ``N·(k−1)`` — pure integer arithmetic DuckDB reproduces, so the
    driver hash covers the Arrow decode stage AND the generator fan-out
    (the explode multiplies rows; keeping it joins/shuffle-free is the
    100 TB point — the only shuffle here is the final 3-key rollup).
    """
    media = attach_binary_payload(t(spark, sf_dir, "documents"))
    feats = decode_media(media, fake=True)
    frames = sample_frames(feats, every_nth=_FRAME_NTH,
                           max_frames=_FRAME_MAX)
    return (
        frames.groupBy("media_type")
        .agg(F.count(F.lit(1)).alias("frames_sampled"),
             F.countDistinct("doc_id").alias("n_media"),
             F.max("frame_idx").alias("max_frame_idx"))
    )


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning over the decoded media stream: letterbox
    scale + output dims per object (``multimodal.resize_spec``, target
    224), rolled up per media type — the arithmetic stage a real resize
    kernel applies, with the pixel work itself belonging to the codec's
    mapInPandas stage.

    Exactly oracle-checked: dims come from the stub codec's sha256
    bytes, the letterbox scale is one IEEE double division both engines
    compute bit-identically, and the emitted aggregates are INTEGER
    out-dims only (min/max/sum — no double accumulation, so no
    ordering sensitivity). Map-only until the 3-key rollup."""
    media = attach_binary_payload(t(spark, sf_dir, "documents"))
    feats = decode_media(media, fake=True)
    from hippo_claim_crossover_spark.multimodal import resize_spec
    rs = resize_spec(feats, target=224)
    return (
        rs.groupBy("media_type")
        .agg(F.count(F.lit(1)).alias("n_media"),
             F.min("out_width").alias("min_out_w"),
             F.max("out_width").alias("max_out_w"),
             F.sum("out_width").alias("sum_out_w"),
             F.max("out_height").alias("max_out_h"))
    )


ORACLE_MM_RESIZE = """
WITH f AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         sha256(text) AS dg
  FROM documents
), feat AS (
  SELECT media_type,
         16 + CAST(('0x' || substr(dg, 1, 2)) AS INTEGER) AS width,
         16 + CAST(('0x' || substr(dg, 3, 2)) AS INTEGER) AS height
  FROM f
), rs AS (
  SELECT media_type,
         greatest(1, CAST(floor(width * least(224.0 / width,
                                              224.0 / height))
                          AS INTEGER)) AS out_width,
         greatest(1, CAST(floor(height * least(224.0 / width,
                                               224.0 / height))
                          AS INTEGER)) AS out_height
  FROM feat
)
SELECT media_type, count(*) AS n_media,
       min(out_width) AS min_out_w,
       max(out_width) AS max_out_w,
       CAST(sum(out_width) AS BIGINT) AS sum_out_w,
       max(out_height) AS max_out_h
FROM rs GROUP BY media_type
"""


ORACLE_MM_FRAMES = f"""
WITH f AS (
  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         sha256(text) AS dg
  FROM documents
), feat AS (
  SELECT media_type,
         CASE WHEN media_type = 'image' THEN 1
              ELSE 1 + CAST(('0x' || substr(dg, 5, 2)) AS INTEGER) % 32
         END AS n_frames
  FROM f
), k AS (
  SELECT media_type, n_frames,
         least({_FRAME_MAX}, (n_frames - 1) // {_FRAME_NTH} + 1) AS n_samp
  FROM feat WHERE n_frames > 0
)
SELECT media_type,
       CAST(sum(n_samp) AS BIGINT) AS frames_sampled,
       count(*) AS n_media,
       CAST(max({_FRAME_NTH} * (n_samp - 1)) AS INTEGER) AS max_frame_idx
FROM k GROUP BY media_type
"""


SHARD_BYTES = 4096


def q_mm_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Webdataset-style shard assignment: pack binary payloads into
    ~fixed-byte output shards per media type — the layout step before a
    training job reads media sequentially. Same shape as sequence
    packing, applied to bytes: a per-media-type running byte sum (one
    shuffle, each type packs independently — the shard key is what keeps
    a 100 TB pack parallel), then exact BIGINT div for the shard id and
    a per-shard summary. A row bigger than the shard budget still gets a
    shard (its own), which is the degenerate case the division handles
    for free."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    media = (F.when(F.col("doc_id") % 3 == 0, "image")
             .when(F.col("doc_id") % 3 == 1, "audio")
             .otherwise("video"))
    w = Window.partitionBy("media_type").orderBy("doc_id")
    staged = (
        d.select("doc_id", media.alias("media_type"),
                 F.octet_length(payload).cast("long").alias("n_bytes"))
        .withColumn("start_byte",
                    F.sum("n_bytes").over(w) - F.col("n_bytes"))
        .withColumn("shard_id", F.expr(f"start_byte div {SHARD_BYTES}"))
    )
    return (
        staged.groupBy("media_type", "shard_id")
        .agg(F.count(F.lit(1)).alias("n_items"),
             F.sum("n_bytes").alias("shard_bytes"),
             F.min("doc_id").alias("first_doc"),
             F.max("doc_id").alias("last_doc"))
    )


ORACLE_MM_SHARD = f"""
WITH staged AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), c AS (
  SELECT *,
         CAST(sum(n_bytes) OVER (PARTITION BY media_type ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n_bytes AS BIGINT) AS start_byte
  FROM staged
)
SELECT media_type, start_byte // {SHARD_BYTES} AS shard_id,
       count(*) AS n_items,
       CAST(sum(n_bytes) AS BIGINT) AS shard_bytes,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c
GROUP BY media_type, start_byte // {SHARD_BYTES}
"""


# CLIP-style pair-filter constants. The coherence threshold is calibrated
# to the synthetic embedding fixture's centroid-cosine distribution
# (median ~0.15; 0.10 keeps ~60%), playing the role LAION's 0.28 CLIP
# score plays on real image-text pairs. Dup threshold matches
# q_dedup_embed's near-dup definition so the two stages share semantics.
MM_MIN_CAPTION = 100
MM_COHERENCE = 0.10
MM_DUP_COS = 0.25
_MM_DIM = 64


def q_mm_pairfilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLIP-shaped cross-modal pair preparation (the LAION curation
    shape): treat ``documents`` as captions and ``embeddings`` as the
    paired media embeddings (joined 1:1 on id), then (1) drop pairs with
    trivial captions, (2) keep pairs whose embedding coheres with its
    label centroid (the stand-in for the CLIP image-text score), and
    (3) drop near-duplicate media among the survivors via the same
    SRP-bucket-blocked cosine detector as ``q_dedup_embed``.

    Exactness: the per-label centroid is built from INTEGER micro
    components (floor(x*1e6+0.5) longs summed exactly per (label, pos) —
    no float accumulation-order sensitivity), assembled into an array and
    broadcast back; cosine is then a row-local fixed-fold dot product
    rounded at 4dp, identical in both engines (the q_sim_topk pattern).
    Scale: the centroid table is |labels|×d integers (broadcast); the
    dedup stage blocks on adaptive SRP buckets (planes from the FULL
    table count, so the oracle recomputes the same plane count from its
    own COUNT(*)); no stage is all-pairs. The kept set feeds three
    consumers, so it is materialized once."""
    from hippo_claim_crossover_spark.operators import similarity as ops_sim
    from hippo_claim_crossover_spark.plans.base import (
        duck_round,
        money_micros,
        t_wide,
    )

    docs = t_wide(spark, sf_dir, "documents").select("doc_id", "n_chars")
    emb = t_wide(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
    # Exact integer centroid: micro-quantized components (deterministic
    # quantization — both engines floor the same doubles) summed per
    # (label, pos) as longs, then re-assembled position-sorted. Cosine is
    # scale-invariant, so the component SUM serves as the centroid
    # directly (no /n division to drift).
    vm = F.transform(
        F.col("v"), lambda x: money_micros(x))
    pe = emb.select("label", F.posexplode(vm).alias("pos", "m"))
    cent = (
        pe.groupBy("label", "pos").agg(F.sum("m").alias("s"))
        .groupBy("label")
        .agg(F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "s"))),
            lambda st: st["s"].cast("double")).alias("c")))
    pairs = emb.join(docs, emb.vec_id == docs.doc_id).drop("doc_id")
    cos_raw = (ops_sim.dot(F.col("v"), F.col("c"))
               / (ops_sim.l2_norm(F.col("v")) * ops_sim.l2_norm(F.col("c"))))
    scored = (
        pairs.where(F.col("n_chars") >= MM_MIN_CAPTION)
        .join(F.broadcast(cent), "label")
        .select("vec_id", "label", "v",
                duck_round(cos_raw, 4).alias("cos4")))
    kept = materialize(scored.where(F.col("cos4") >= MM_COHERENCE),
                       "coherent_pairs")
    # metadata-only parquet footer count (t_wide's repartition would
    # force a full scan+shuffle just to learn the row count)
    n_total = t(spark, sf_dir, "embeddings").count()
    dups = ops_sim.embed_near_pairs(
        kept.select("vec_id", "v"), dim=_MM_DIM, threshold=MM_DUP_COS,
        n_planes=ops_sim.planes_for(n_total))
    drops = dups.select(F.col("vec_b").alias("vec_id")).distinct()
    final = kept.join(drops, "vec_id", "left_anti")
    a_pairs = pairs.groupBy("label").agg(F.count(F.lit(1)).alias("n_pairs"))
    a_scored = (
        scored.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_caption_ok"),
             F.sum((F.col("cos4") >= MM_COHERENCE).cast("long"))
             .alias("n_coherent"),
             F.sum(F.when(F.col("cos4") >= MM_COHERENCE,
                          money_micros(F.col("cos4"))))
             .alias("sum_cos_micros")))
    a_final = final.groupBy("label").agg(F.count(F.lit(1)).alias("n_final"))
    return (
        a_pairs
        .join(a_scored, "label", "left")
        .join(a_final, "label", "left")
        .select(
            "label", "n_pairs",
            F.coalesce("n_caption_ok", F.lit(0)).alias("n_caption_ok"),
            F.coalesce("n_coherent", F.lit(0)).alias("n_coherent"),
            (F.coalesce("n_coherent", F.lit(0))
             - F.coalesce("n_final", F.lit(0))).alias("n_dropped_dup"),
            F.coalesce("n_final", F.lit(0)).alias("n_final"),
            F.when(F.col("n_coherent") > 0,
                   duck_round(F.col("sum_cos_micros").cast("double")
                              / (F.lit(1e6) * F.col("n_coherent")), 4))
            .alias("avg_kept_cos"))
        .orderBy("label"))


def _oracle_mm_pairfilter() -> str:
    from hippo_claim_crossover_spark.plans.similarity import (
        NP_T_SQL,
        _bucket_sql_gated,
        _r4,
    )
    cos4 = _r4("list_dot_product(p.v, c.c) / (sqrt(list_dot_product(p.v, "
               "p.v)) * sqrt(list_dot_product(c.c, c.c)))")
    return f"""
WITH {NP_T_SQL}, m AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), pe AS (
  SELECT label, t.i AS pos,
         CAST(floor(v[t.i] * 1e6 + 0.5) AS BIGINT) AS mv
  FROM m, (SELECT unnest(range(1, {_MM_DIM} + 1)) AS i) t
), cent AS (
  SELECT label, list(CAST(s AS DOUBLE) ORDER BY pos) AS c
  FROM (SELECT label, pos, CAST(sum(mv) AS BIGINT) AS s
        FROM pe GROUP BY label, pos)
  GROUP BY label
), pairs AS (
  SELECT m.vec_id, m.label, m.v, d.n_chars
  FROM m JOIN documents d ON m.vec_id = d.doc_id
), scored AS (
  SELECT p.vec_id, p.label, p.v, {cos4} AS cos4
  FROM pairs p JOIN cent c USING (label)
  WHERE p.n_chars >= {MM_MIN_CAPTION}
), kept AS (
  SELECT vec_id, label, cos4,
         list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn,
         {_bucket_sql_gated(0)} AS bucket
  FROM scored, np_t WHERE cos4 >= {MM_COHERENCE}
), drops AS (
  SELECT b.vec_id AS vec_id
  FROM kept a JOIN kept b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {_r4('list_dot_product(a.vn, b.vn)')} >= {MM_DUP_COS}
  GROUP BY b.vec_id
), final AS (
  SELECT * FROM kept
  WHERE vec_id NOT IN (SELECT vec_id FROM drops)
)
SELECT l.label, l.n_pairs,
       COALESCE(s.n_caption_ok, 0) AS n_caption_ok,
       COALESCE(s.n_coherent, 0) AS n_coherent,
       COALESCE(s.n_coherent, 0) - COALESCE(f.n_final, 0) AS n_dropped_dup,
       COALESCE(f.n_final, 0) AS n_final,
       CASE WHEN COALESCE(s.n_coherent, 0) > 0 THEN
         floor((CAST(s.sum_cos_micros AS DOUBLE)
                / (1e6 * s.n_coherent)) * 1e4 + 0.5) / 1e4
       END AS avg_kept_cos
FROM (SELECT label, count(*) AS n_pairs FROM pairs GROUP BY label) l
LEFT JOIN (
  SELECT label, count(*) AS n_caption_ok,
         CAST(sum(CASE WHEN cos4 >= {MM_COHERENCE} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_coherent,
         CAST(sum(CASE WHEN cos4 >= {MM_COHERENCE}
                  THEN CAST(floor(cos4 * 1e6 + 0.5) AS BIGINT) END)
              AS BIGINT) AS sum_cos_micros
  FROM scored GROUP BY label) s ON l.label = s.label
LEFT JOIN (SELECT label, count(*) AS n_final FROM final GROUP BY label) f
  ON l.label = f.label
ORDER BY l.label
"""


ORACLE_MM_PAIRFILTER = _oracle_mm_pairfilter()


def q_mm_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload EXACT dedup with storage accounting — the first
    pass every media-lake curation runs (byte-identical re-uploads and
    mirror copies dominate raw crawl storage): group the payloads by
    sha256 digest per routed media type, keep one canonical copy per
    digest (min doc_id), and account the reclaimable bytes
    (Σ (copies − 1) × size per duplicate group).

    Shape: digest + size are row-local built-ins over the BinaryType
    column; ONE partial/final agg on the (media_type, 32-byte digest)
    key — content-addressed dedup's whole cost is that single shuffle
    of digests, never payloads (the q_dedup_exact discipline on binary
    media). The per-type rollup is a second KB-scale agg."""
    d = t(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    files = d.select(
        F.col("doc_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video").alias("media_type"),
        F.sha2(payload, 256).alias("digest"),
        F.octet_length(payload).cast("long").alias("n_bytes"))
    groups = (files.groupBy("media_type", "digest")
              .agg(F.count(F.lit(1)).alias("_n"),
                   F.max("n_bytes").alias("_sz"),
                   F.min("doc_id").alias("_keep")))
    return (groups.groupBy("media_type")
            .agg(F.sum("_n").alias("n_files"),
                 F.count(F.lit(1)).alias("n_unique"),
                 F.sum(F.col("_n") - 1).alias("n_dup_files"),
                 F.sum(F.col("_n") * F.col("_sz")).alias("bytes_total"),
                 F.sum((F.col("_n") - 1) * F.col("_sz"))
                 .alias("bytes_saved"),
                 F.sum("_keep").alias("keeper_id_sum"))
            .orderBy("media_type"))


ORACLE_MM_DEDUP = """
WITH files AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         sha256(text) AS digest,
         CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
  FROM documents
), groups AS (
  SELECT media_type, digest, CAST(count(*) AS BIGINT) AS n,
         max(n_bytes) AS sz, min(doc_id) AS keep
  FROM files GROUP BY 1, 2
)
SELECT media_type,
       CAST(sum(n) AS BIGINT) AS n_files,
       CAST(count(*) AS BIGINT) AS n_unique,
       CAST(sum(n - 1) AS BIGINT) AS n_dup_files,
       CAST(sum(n * sz) AS BIGINT) AS bytes_total,
       CAST(sum((n - 1) * sz) AS BIGINT) AS bytes_saved,
       CAST(sum(keep) AS BIGINT) AS keeper_id_sum
FROM groups GROUP BY media_type ORDER BY media_type
"""


SPECS: dict[str, QuerySpec] = {
    "q_mm_pairfilter": QuerySpec(
        q_mm_pairfilter, ORACLE_MM_PAIRFILTER,
        "CLIP-shaped cross-modal pair prep: caption filter -> exact-"
        "integer centroid coherence -> SRP-blocked near-dup drop"),
    "q_mm_dedup": QuerySpec(
        q_mm_dedup, ORACLE_MM_DEDUP,
        "binary-payload exact dedup per media type: digest groups, "
        "canonical keeper, reclaimable bytes"),
    "q_mm_meta": QuerySpec(q_mm_meta, ORACLE_MM_META,
                           "binary payload metadata"),
    "q_mm_binfile": QuerySpec(q_mm_binfile, ORACLE_MM_BINFILE,
                              "binaryFile source ingestion"),
    "q_mm_decode": QuerySpec(
        q_mm_decode, ORACLE_MM_DECODE,
        "mapInPandas stub decode pipeline (exact oracle: sha256-byte "
        "feature arithmetic reproduced in SQL)"),
    "q_mm_shard": QuerySpec(q_mm_shard, ORACLE_MM_SHARD,
                            "webdataset-style byte-budget shard packing"),
    "q_mm_frames": QuerySpec(
        q_mm_frames, ORACLE_MM_FRAMES,
        "every-Nth capped frame sampling over decoded media (exact "
        "integer-arithmetic oracle)"),
    "q_mm_resize": QuerySpec(
        q_mm_resize, ORACLE_MM_RESIZE,
        "letterbox resize planning over decoded media (integer-exact "
        "out-dims rollup)"),
}
