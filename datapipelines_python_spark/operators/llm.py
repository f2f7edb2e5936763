"""LLM-data-pipeline operators (SURVEY.md §2B.10): dedup, similarity,
embeddings, text analysis over the ``documents`` / ``embeddings`` tables.

Design rules for 100 TB (SURVEY.md §4.3):

- **No crossJoin on the big side.** Near-dedup uses an inverted-index
  self-join on shingles (shuffle on shingle key); similarity search
  broadcasts the small query set. The O(n²) brute-force shape never
  touches a full table.
- **Vector math stays JVM-side** via higher-order functions (``zip_with``
  + ``aggregate``) — no Python UDFs in any hot path here.
- **Cross-engine float determinism:** dot products are sequential left
  folds over doubles (Spark ``aggregate`` ≡ DuckDB ``list_reduce``), so
  both engines execute the identical IEEE-754 operation sequence;
  outputs are then ``round4``-ed (see ``_helpers``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from datapipelines_python_spark.catalog import load_table
from datapipelines_python_spark.operators._helpers import (
    DEC,
    _scan_meta,
    davg,
    dsum,
    round4,
    spread,
    sql_davg,
    sql_dsum,
    sql_round4,
    task_count,
)
from datapipelines_python_spark.registry import query

# --------------------------------------------------------------------------
# Vector-math helpers: identical fold order on both engines.
# --------------------------------------------------------------------------


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential left-fold dot product in doubles (JVM-side, codegen)."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sql_dot(a: str, b: str) -> str:
    """DuckDB twin of :func:`dot` — same element order, same fold, same
    double promotion, hence bit-identical results.

    The NULL gate matters: DuckDB's ``list_prepend(0.0, NULL)``
    resurrects ``[0.0]`` and folds to 0.0, silently minting a zero dot
    product for a missing vector, while Spark's ``aggregate`` over a
    NULL array is NULL — the honest answer."""
    return (
        f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"s -> CAST(s[1] AS DOUBLE) * s[2])), (acc, x) -> acc + x) END"
    )


STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "for", "on", "with")
_SQL_STOPWORDS = ", ".join(f"'{w}'" for w in STOPWORDS)


# --------------------------------------------------------------------------
# Deduplication
# --------------------------------------------------------------------------


@query(
    "llm_dedup_exact",
    oracle="""
        SELECT MD5(LOWER(TRIM(text))) AS fp,
               MIN(doc_id) AS survivor_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup by normalized content hash; deterministic survivor =
    lowest doc_id. One shuffle on the 32-byte fingerprint — at 100 TB this
    is the cheapest possible dedup (map-side partial agg applies)."""
    d = load_table(spark, sf, "documents")
    fp = F.md5(F.lower(F.trim(F.col("text"))))
    return d.groupBy(fp.alias("fp")).agg(
        F.min("doc_id").alias("survivor_id"),
        F.count("*").alias("n_copies"),
    )


@query(
    "llm_dedup_near",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
        ),
        sh AS (
            SELECT doc_id,
                   LIST_DISTINCT([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                  FOR i IN RANGE(1, LEN(toks) - 1)]) AS shingles
            FROM tok
            WHERE LEN(toks) >= 3
        ),
        ex AS (
            SELECT doc_id, LEN(shingles) AS n_sh, UNNEST(shingles) AS shingle
            FROM sh
        ),
        pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n_sh AS na, b.n_sh AS nb, COUNT(*) AS inter
            FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4
        )
        SELECT doc_a, doc_b,
               {sql_round4('inter / (na + nb - inter)')} AS jaccard
        FROM pairs
        WHERE inter / (na + nb - inter) >= 0.7
    """,
    tags=("llm", "dedup"),
    bench=True,
)
def llm_dedup_near(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup pairs by exact Jaccard over word 3-gram shingles, found via
    an **inverted-index self-join** (shuffle on shingle, never a crossJoin):
    only docs sharing ≥1 shingle ever meet, so cost tracks the true overlap
    structure rather than n². At 100 TB, hot shingles are the skew risk —
    AQE skew-split handles moderate cases; the MinHash-banded variant
    (``llm_dedup_minhash_lsh``) is the sub-linear candidate generator when
    exact intersection counts aren't required."""
    d = load_table(spark, sf, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 3
    )
    # Shingles are hashed to bigints (xxhash64 over the 3 tokens): an 8-byte
    # join key instead of a ~20-byte string — the shuffle is the dominant
    # cost at scale. Collisions (~n²/2⁶⁴) are negligible vs the oracle's
    # string sets. The shingle expression is deliberately INLINED into both
    # explode() and size() rather than projected into its own column first:
    # explode over a projected array column makes Catalyst infer a
    # `size(arr) > 0` filter and push it below the projection with `toks`
    # substituted in, re-evaluating split(text) per lambda element (~10×
    # slower end-to-end, measured).
    shingles = F.array_distinct(
        F.expr(
            "transform(sequence(0, size(toks) - 3),"
            " i -> xxhash64(toks[i], toks[i+1], toks[i+2]))"
        )
    )
    # n_sh lives in its own tiny per-doc frame joined onto the exploded
    # index (AQE broadcasts it): carrying size(shingles) through the
    # explode directly would make the post-Generate projection re-evaluate
    # the whole shingle array per exploded row (explode output can't share
    # the array with a sibling column).
    ex = tok.select("doc_id", F.explode(shingles).alias("shingle"))
    nsh = tok.select("doc_id", F.size(shingles).alias("n_sh"))
    ex_n = ex.join(nsh, "doc_id")
    a, b = ex_n.alias("a"), ex_n.alias("b")
    pairs = (
        # shuffle-hash, not broadcast: at 100 TB neither side of the
        # inverted index fits an executor; partitioning by shingle is the
        # scale-correct plan (AQE still splits skewed shingle keys)
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
            # A Jaccard length filter (0.7·max(|A|,|B|) ≤ min) as two
            # extra join-condition compares was tried in round 7 and
            # REJECTED by measurement: it prunes 47% of pair-rows at sf1
            # (136M → 72M into the aggregate) yet DOUBLES the op's wall
            # (A/B in one session: 24-36 s → 72 s) — evaluating a wider
            # residual inside the hash-join's match loop costs more than
            # letting the map-side partial hashAgg absorb the extra rows.
            # The candidate count stays Σ DF² over shingles, intrinsic to
            # EXACT Jaccard on a hot-shingle corpus; the sub-linear scale
            # path is llm_dedup_minhash_lsh (2.4×/decade measured), with
            # this op as its fixture-scale exact twin.
        )
        # 2-key groupBy with max() for the per-doc constants: grouping on
        # (doc_a, doc_b, na, nb) directly measures ~3× slower — wider keys
        # slow the hash aggregate over the full candidate-pair set
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.count("*").alias("inter"),
            F.max(F.col("a.n_sh")).alias("na"),
            F.max(F.col("b.n_sh")).alias("nb"),
        )
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return pairs.filter(jac >= 0.7).select(
        "doc_a", "doc_b", round4(jac).alias("jaccard")
    )


# --------------------------------------------------------------------------
# Similarity search over embeddings
# --------------------------------------------------------------------------


@query(
    "llm_similarity_topk",
    oracle=f"""
        WITH nv AS (
            SELECT vec_id, embedding,
                   SQRT({sql_dot('embedding', 'embedding')}) AS norm
            FROM embeddings
        ),
        q AS (
            SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
            FROM nv WHERE vec_id < 5
        ),
        pairs AS (
            SELECT q.q_id, c.vec_id AS neighbor_id,
                   {sql_dot('q.q_emb', 'c.embedding')} / (q.q_norm * c.norm) AS cos
            FROM nv c, q
            WHERE c.vec_id <> q.q_id
        ),
        r AS (
            SELECT q_id, neighbor_id, cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY cos DESC, neighbor_id
                   ) AS INT) AS rank
            FROM pairs
        )
        SELECT q_id, neighbor_id, {sql_round4('cos')} AS cosine, rank
        FROM r WHERE rank <= 10
    """,
    tags=("llm", "similarity"),
    bench=True,
)
def llm_similarity_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Exact top-10 cosine neighbors for a small query set: broadcast the
    queries against the corpus (one scan, no shuffle of the big side except
    the per-query top-k window). This is the oracle-checkable baseline; the
    bucketed variant (``llm_ann_lsh_bucketed``) is the 100 TB path where
    broadcasting every query×candidate product is too much compute."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf, "embeddings")
    nv = emb.withColumn("norm", F.sqrt(dot("embedding", "embedding")))
    q = nv.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    pairs = nv.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        (dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm"))).alias("cos"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("q_id", "neighbor_id", round4(F.col("cos")).alias("cosine"), "rank")
    )


@query(
    "llm_embed_stats",
    oracle=f"""
        WITH ex AS (
            SELECT label,
                   GENERATE_SUBSCRIPTS(embedding, 1) AS pos,
                   UNNEST(embedding) AS val
            FROM embeddings
        ),
        ag AS (
            SELECT label, pos,
                   {sql_round4(sql_davg('CAST(val AS DOUBLE)'))} AS c,
                   COUNT(*) AS cnt
            FROM ex GROUP BY 1, 2
        )
        SELECT label,
               ARRAY_TO_STRING(LIST(CAST(ROUND(c * 10000) AS BIGINT) ORDER BY pos), '|')
                   AS centroid,
               MAX(cnt) AS n_vecs
        FROM ag GROUP BY label
    """,
    tags=("llm", "embedding"),
)
def llm_embed_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-label centroid: posexplode → two-level agg. The shuffle key is
    (label, pos) — 10 labels × 64 dims = 640 cells regardless of row count,
    so partial (map-side) aggregation does nearly all the work at scale."""
    emb = load_table(spark, sf, "embeddings")
    ex = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    ag = ex.groupBy("label", "pos").agg(
        round4(davg(F.col("val").cast("double"))).alias("c"),
        F.count("*").alias("cnt"),
    )
    return ag.groupBy("label").agg(
        # flattened for the driver harness: round4'd cell means scale to
        # exact integer ten-thousandths -> engine-portable string
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: F.round(s["c"] * 10000).cast("bigint").cast("string"),
            ),
            "|",
        ).alias("centroid"),
        F.max("cnt").alias("n_vecs"),
    )


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------


@query(
    "llm_text_tokenize",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
            FROM documents
        )
        SELECT token,
               COUNT(*) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM tok
        WHERE LENGTH(token) >= 3 AND token NOT IN ({_SQL_STOPWORDS})
        GROUP BY token
    """,
    tags=("llm", "text"),
)
def llm_text_tokenize(spark: SparkSession, sf: str) -> DataFrame:
    """Whitespace tokenization + stopword filter + corpus term counts."""
    d = load_table(spark, sf, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token")
    ).filter((F.length("token") >= 3) & ~F.col("token").isin(*STOPWORDS))
    return tok.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@query(
    "llm_text_stats",
    oracle="""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS sum_chars,
               MIN(n_chars) AS min_chars,
               MAX(n_chars) AS max_chars,
               CAST(SUM(CASE WHEN n_chars = LENGTH(text) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_valid
        FROM documents
        GROUP BY lang
    """,
    tags=("llm", "text"),
)
def llm_text_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Per-language doc stats, including the n_chars == length(text)
    integrity check the fixture encodes. The mean is carried as the exact
    integer pair (sum_chars, n_docs) rather than a raw double: r5's
    driver run hash-mismatched a floor-gridded double average while the
    same values were digest-certified green in the same session — raw
    doubles through a per-op value hasher are a last-ulp hazard, exact
    BIGINTs are not (VERDICT r5 #2)."""
    d = load_table(spark, sf, "documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("sum_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(
            F.when(F.col("n_chars") == F.length("text"), 1).otherwise(0)
        ).alias("n_valid"),
    )


@query(
    "llm_tfidf",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
            FROM documents
        ),
        tf AS (
            SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
        ),
        idf AS (
            SELECT token, COUNT(*) AS df FROM tf GROUP BY 1
        ),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.token,
                   tf.tf * LN(n.n_docs / idf.df) AS tfidf
            FROM tf JOIN idf USING (token) CROSS JOIN n
        ),
        r AS (
            SELECT doc_id, token, tfidf,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY doc_id ORDER BY tfidf DESC, token
                   ) AS INT) AS rank
            FROM scored
        )
        SELECT doc_id, token, {sql_round4('tfidf')} AS tfidf, rank
        FROM r WHERE rank <= 3
    """,
    tags=("llm", "text"),
    bench=True,
)
def llm_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — pure relational algebra: term
    counts, doc-frequency join (broadcast: vocabulary ≪ corpus), log-idf,
    per-doc top-k window. No MLlib, no UDFs."""
    from pyspark.sql.window import Window

    d = load_table(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    idf = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = d.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(idf), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            (F.col("tf") * F.log(F.col("n_docs") / F.col("df"))).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "token", round4(F.col("tfidf")).alias("tfidf"), "rank")
    )


@query(
    "llm_ngrams",
    oracle="""
        -- row-local bigram build (list comprehension), mirroring Spark's
        -- zip_with: a LAG window partitioned by doc_id would interleave
        -- copies whenever doc_id is not unique (max-skew fixture)
        WITH bg AS (
            SELECT UNNEST([toks[i] || ' ' || toks[i+1]
                           FOR i IN RANGE(1, LEN(toks))]) AS bigram
            FROM (SELECT STRING_SPLIT(text, ' ') AS toks FROM documents)
        )
        SELECT bigram, COUNT(*) AS n
        FROM bg
        GROUP BY bigram
    """,
    tags=("llm", "text"),
)
def llm_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus bigram counts. Spark side builds bigrams array-locally
    (zip_with over offset slices — zero shuffle until the final count),
    unlike the oracle's window formulation which would sort per doc."""
    d = load_table(spark, sf, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                "         slice(toks, 2, size(toks) - 1),"
                "         (x, y) -> concat(x, ' ', y))"
            )
        ).alias("bigram")
    )
    return bigrams.groupBy("bigram").agg(F.count("*").alias("n"))


@query(
    "llm_lang_distribution",
    oracle="""
        SELECT lang, {cols}
        FROM documents
        GROUP BY lang
    """.format(
        cols=", ".join(
            f"COUNT(*) FILTER (WHERE source = 'src{i}') AS src{i}" for i in range(20)
        )
    ),
    tags=("llm", "multimodal"),
)
def llm_lang_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """lang × source contingency table via pivot (explicit value list so the
    output schema is fixed — at scale an un-listed pivot needs an extra
    distinct-values job first)."""
    d = load_table(spark, sf, "documents")
    srcs = [f"src{i}" for i in range(20)]
    return d.groupBy("lang").pivot("source", srcs).count().na.fill(0, srcs)


@query(
    "llm_multimodal_join",
    oracle=f"""
        SELECT d.doc_id, d.lang, d.n_chars, e.label,
               LEN(e.embedding) AS emb_dim,
               {sql_round4("SQRT(" + sql_dot('e.embedding', 'e.embedding') + ")")}
                   AS emb_norm
        FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    """,
    tags=("llm", "multimodal"),
)
def llm_multimodal_join(spark: SparkSession, sf: str) -> DataFrame:
    """Text + vector columns in one frame: documents ⋈ embeddings with
    mixed scalar/vector derived columns."""
    d = load_table(spark, sf, "documents")
    e = load_table(spark, sf, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "n_chars",
        "label",
        F.size("embedding").alias("emb_dim"),
        round4(F.sqrt(dot("embedding", "embedding"))).alias("emb_norm"),
    )


@query(
    "llm_ann_ivf",
    oracle=f"""
        WITH nv AS MATERIALIZED (
            SELECT vec_id, embedding,
                   SQRT({sql_dot('embedding', 'embedding')}) AS norm
            FROM embeddings
        ),
        cent AS MATERIALIZED (
            SELECT vec_id AS cid, embedding AS c_emb, norm AS c_norm
            FROM nv WHERE vec_id < 16
        ),
        assigned AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT nv.vec_id, cent.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY nv.vec_id
                           ORDER BY {sql_dot('nv.embedding', 'cent.c_emb')}
                                    / (nv.norm * cent.c_norm) DESC, cent.cid
                       ) AS rn
                FROM nv CROSS JOIN cent
            ) a WHERE rn = 1
        ),
        q AS MATERIALIZED (
            SELECT vec_id AS q_id, embedding AS q_emb, norm AS q_norm
            FROM nv WHERE vec_id < 5
        ),
        probes AS (
            SELECT q_id, cid FROM (
                SELECT q.q_id, cent.cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.q_id
                           ORDER BY {sql_dot('q.q_emb', 'cent.c_emb')}
                                    / (q.q_norm * cent.c_norm) DESC, cent.cid
                       ) AS rn
                FROM q CROSS JOIN cent
            ) p WHERE rn <= 2
        ),
        cand AS (
            SELECT probes.q_id, assigned.vec_id AS neighbor_id
            FROM probes JOIN assigned ON probes.cid = assigned.cid
            WHERE assigned.vec_id <> probes.q_id
        ),
        scored AS (
            SELECT cand.q_id, cand.neighbor_id,
                   {sql_dot('q.q_emb', 'nv.embedding')} / (q.q_norm * nv.norm)
                       AS cos
            FROM cand
            JOIN q ON cand.q_id = q.q_id
            JOIN nv ON cand.neighbor_id = nv.vec_id
        )
        SELECT q_id, neighbor_id, {sql_round4('cos')} AS cosine, rank
        FROM (
            SELECT q_id, neighbor_id, cos,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY cos DESC, neighbor_id
                   ) AS INT) AS rank
            FROM scored
        ) r WHERE rank <= 5
    """,
    tags=("llm", "similarity"),
    bench=True,
)
def llm_ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbor: partition the
    corpus into K=16 cells around coarse centroids, then search only the
    nprobe=2 cells nearest each query. Centroids here are deterministic
    seed vectors (vec_id < 16) so the oracle can replay the exact cell
    assignment; in production they come from k-means and the structure is
    identical. Complements ``llm_ann_lsh_bucketed`` (hash buckets):
    IVF probes adapt to the query's region, so recall concentrates where
    the data is.

    Scale shape: assignment is one corpus scan against broadcast centroids
    (the window is per-vector over K rows, never corpus-wide); the probe
    join touches ~nprobe/K of the corpus per query — cell-local
    brute force, cost scales with bucket occupancy, not corpus squared."""
    from pyspark.sql.window import Window

    emb = load_table(spark, sf, "embeddings")
    nv = emb.withColumn("norm", F.sqrt(dot("embedding", "embedding")))
    cent = nv.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    cos_to_cent = dot("embedding", "c_emb") / (F.col("norm") * F.col("c_norm"))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("cid")
    )
    assigned = (
        nv.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", cos_to_cent.alias("cos_c"))
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    q = nv.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    cos_q_cent = dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm"))
    w_probe = Window.partitionBy("q_id").orderBy(F.desc("cos_c"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .select("q_id", "cid", cos_q_cent.alias("cos_c"))
        .withColumn("rn", F.row_number().over(w_probe))
        .filter(F.col("rn") <= 2)
        .select("q_id", "cid")
    )
    cand = (
        F.broadcast(probes)
        .join(assigned, "cid")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", F.col("vec_id").alias("neighbor_id"))
    )
    scored = (
        cand.join(F.broadcast(q), "q_id")
        .join(nv, F.col("neighbor_id") == nv.vec_id)
        .select(
            "q_id",
            "neighbor_id",
            (dot("q_emb", "embedding") / (F.col("q_norm") * F.col("norm"))).alias(
                "cos"
            ),
        )
    )
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 5)
        .select("q_id", "neighbor_id", round4(F.col("cos")).alias("cosine"), "rank")
    )


@query(
    "llm_quality_gopher",
    oracle="""
        WITH tok AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
            FROM documents
        ),
        tc AS (
            SELECT doc_id, token, COUNT(*) AS c
            FROM tok GROUP BY doc_id, token
        ),
        sig AS (
            SELECT doc_id,
                   SUM(c) AS n_tokens,
                   MAX(c) AS top_c,
                   SUM(c * LENGTH(token)) AS tok_chars,
                   SUM(CASE WHEN regexp_matches(token, '^[a-z]+$')
                            THEN c ELSE 0 END) AS alpha_c
            FROM tc GROUP BY doc_id
        )
        SELECT doc_id,
               CAST(n_tokens AS BIGINT) AS n_tokens,
               FLOOR((CAST(tok_chars AS DOUBLE) / n_tokens) * 10000.0 + 0.5)
                   / 10000.0 AS mean_token_len,
               FLOOR((CAST(top_c AS DOUBLE) / n_tokens) * 10000.0 + 0.5)
                   / 10000.0 AS top_token_frac,
               FLOOR((CAST(alpha_c AS DOUBLE) / n_tokens) * 10000.0 + 0.5)
                   / 10000.0 AS alpha_frac,
               (n_tokens >= 20 AND n_tokens <= 100000
                AND CAST(top_c AS DOUBLE) / n_tokens < 0.20
                AND CAST(tok_chars AS DOUBLE) / n_tokens BETWEEN 3.0 AND 12.0
                AND CAST(alpha_c AS DOUBLE) / n_tokens > 0.60) AS keep
        FROM sig
    """,
    tags=("llm", "text", "quality"),
)
def llm_quality_gopher(spark: SparkSession, sf: str) -> DataFrame:
    """Gopher/C4-style repetition and composition signals per document:
    token count, mean token length, most-frequent-token fraction (the
    repetition signal — boilerplate and spam push it up), alphabetic-token
    fraction, and the combined keep/drop gate. Two partial-aggregated
    shuffles — (doc_id, token) then doc_id — both narrow; the gate compares
    raw double ratios (round4 only on the *reported* columns) so the keep
    decision is engine-exact. At 100 TB this is the first pass after
    ingest, and the thresholds are the tunable policy surface."""
    d = load_table(spark, sf, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sig = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_c"),
        F.sum(F.col("c") * F.length("token")).alias("tok_chars"),
        F.sum(
            F.when(F.col("token").rlike("^[a-z]+$"), F.col("c")).otherwise(F.lit(0))
        ).alias("alpha_c"),
    )
    mean_len = F.col("tok_chars").cast("double") / F.col("n_tokens")
    top_frac = F.col("top_c").cast("double") / F.col("n_tokens")
    alpha_frac = F.col("alpha_c").cast("double") / F.col("n_tokens")
    return sig.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        round4(mean_len).alias("mean_token_len"),
        round4(top_frac).alias("top_token_frac"),
        round4(alpha_frac).alias("alpha_frac"),
        (
            (F.col("n_tokens") >= 20) & (F.col("n_tokens") <= 100000)
            & (top_frac < 0.20)
            & mean_len.between(3.0, 12.0)
            & (alpha_frac > 0.60)
        ).alias("keep"),
    )


@query(
    "llm_pmi_collocations",
    oracle="""
        WITH ex AS (
            SELECT doc_id,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(LOWER(text), ' '), 1) AS pos,
                   UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
            FROM documents
        ),
        uni AS (
            SELECT tok, COUNT(*) AS c FROM ex GROUP BY tok
        ),
        n_uni AS (SELECT SUM(c) AS n FROM uni),
        bg AS (
            -- row-local build, cf. llm_ngrams: LAG over doc_id interleaves
            -- duplicate-keyed copies
            SELECT SPLIT_PART(bigram, ' ', 1) AS w1,
                   SPLIT_PART(bigram, ' ', 2) AS w2,
                   COUNT(*) AS c_xy
            FROM (
                SELECT UNNEST([toks[i] || ' ' || toks[i+1]
                               FOR i IN RANGE(1, LEN(toks))]) AS bigram
                FROM (SELECT STRING_SPLIT(LOWER(text), ' ') AS toks
                      FROM documents)
            )
            GROUP BY 1, 2
        ),
        n_bg AS (SELECT SUM(c_xy) AS n FROM bg)
        SELECT b.w1, b.w2,
               CAST(b.c_xy AS BIGINT) AS c_xy,
               FLOOR(LN(
                   (CAST(b.c_xy AS DOUBLE) / n_bg.n) /
                   ((CAST(u1.c AS DOUBLE) / n_uni.n) *
                    (CAST(u2.c AS DOUBLE) / n_uni.n))
               ) * 10000.0 + 0.5) / 10000.0 AS pmi
        FROM bg b, n_bg, n_uni
        JOIN uni u1 ON b.w1 = u1.tok
        JOIN uni u2 ON b.w2 = u2.tok
        WHERE b.c_xy >= 5
    """,
    tags=("llm", "text"),
)
def llm_pmi_collocations(spark: SparkSession, sf: str) -> DataFrame:
    """Pointwise mutual information over corpus bigrams: PMI =
    ln(p(xy) / (p(x)p(y))) with bigram and unigram probability tables —
    the collocation detector ("new york" scores high, "of the" low).
    Unigram counts broadcast back onto the bigram table (the unigram dim
    is vocabulary-sized, orders smaller than the corpus); the global
    totals are scalar subqueries ≙ broadcast literals. Thresholding at
    c_xy ≥ 5 keeps the tail noise out, standard practice."""
    d = load_table(spark, sf, "documents")
    ex = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "tok"),
    )
    uni = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_uni = uni.agg(F.sum("c").alias("n"))
    toks = d.select(
        "doc_id", F.split(F.lower("text"), " ").alias("ts")
    ).filter(F.size("ts") >= 2)
    bg = (
        toks.select(
            F.explode(
                F.zip_with(
                    F.slice(F.col("ts"), 1, F.size("ts") - 1),
                    F.slice(F.col("ts"), 2, F.size("ts") - 1),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 5)
    )
    n_bg_df = (
        toks.select((F.size("ts") - 1).alias("k")).agg(F.sum("k").alias("n"))
    )
    u1 = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c2"))
    j = (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_bg_df.select(F.col("n").alias("n_bg"))))
        .crossJoin(F.broadcast(n_uni.select(F.col("n").alias("n_uni"))))
    )
    pmi = F.log(
        (F.col("c_xy").cast("double") / F.col("n_bg"))
        / (
            (F.col("c1").cast("double") / F.col("n_uni"))
            * (F.col("c2").cast("double") / F.col("n_uni"))
        )
    )
    return j.select(
        "w1", "w2",
        F.col("c_xy").cast("bigint").alias("c_xy"),
        round4(pmi).alias("pmi"),
    )


from datapipelines_python_spark.registry import _REGISTRY as _REG


@query(
    "llm_ann_recall",
    oracle=f"""
        WITH ivf AS ({_REG["llm_ann_ivf"].oracle}),
        exact AS (
            SELECT * FROM ({_REG["llm_similarity_topk"].oracle}) e
            WHERE rank <= 5
        )
        SELECT exact.q_id,
               CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS n_hit,
               CAST(COUNT(ivf.neighbor_id) AS DOUBLE) / 5.0 AS recall_at_5
        FROM exact
        LEFT JOIN ivf ON exact.q_id = ivf.q_id
                     AND exact.neighbor_id = ivf.neighbor_id
        GROUP BY exact.q_id
    """,
    tags=("llm", "similarity", "eval"),
)
def llm_ann_recall(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the IVF index against the exact brute-force neighbors,
    per query — the evaluation loop every ANN deployment needs before
    trusting an index (tune K/nprobe until recall clears the bar, then
    ship). Composes the two registered operators; the oracle composes
    their oracle SQL the same way, so the metric itself is engine-checked.
    At scale: exact ground truth on a sampled query set only — which is
    precisely this shape."""
    ivf = _REG["llm_ann_ivf"].fn(spark, sf).select(
        "q_id", "neighbor_id", F.lit(1).alias("hit")
    )
    exact = (
        _REG["llm_similarity_topk"].fn(spark, sf)
        .filter(F.col("rank") <= 5)
        .select("q_id", "neighbor_id")
    )
    return (
        exact.join(ivf, ["q_id", "neighbor_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_hit"),
            (F.count("hit").cast("double") / 5.0).alias("recall_at_5"),
        )
    )


def _sql_d2(a: str, b: str) -> str:
    """DuckDB twin of the squared-L2 fold used by k-means (same element
    order, same double promotion → bit-identical). NULL-gated like
    :func:`sql_dot`: a missing vector must yield a NULL distance, not a
    resurrected 0.0."""
    return (
        f"CASE WHEN {a} IS NULL OR {b} IS NULL THEN NULL ELSE "
        f"list_reduce(list_prepend(0.0, list_transform(list_zip({a}, {b}), "
        f"s -> (CAST(s[1] AS DOUBLE) - s[2]) * (CAST(s[1] AS DOUBLE) - s[2]))), "
        f"(acc, x) -> acc + x) END"
    )


@query(
    "ml_kmeans_lloyd",
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
        ),
        c0 AS MATERIALIZED (
            SELECT vec_id AS cid,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS c
            FROM embeddings WHERE vec_id < 8
        ),
        p1 AS (
            SELECT v.vec_id, c0.cid,
                   {_sql_d2('v.embedding', 'c0.c')} AS d2
            FROM v CROSS JOIN c0
        ),
        a1 AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY d2, cid) AS rn
                FROM p1
            ) r WHERE rn = 1
        ),
        e1 AS (
            SELECT a1.cid,
                   GENERATE_SUBSCRIPTS(v.embedding, 1) AS pos,
                   UNNEST(v.embedding) AS val
            FROM v JOIN a1 USING (vec_id)
        ),
        m1 AS (
            SELECT cid, pos,
                   {sql_round4(sql_davg('CAST(val AS DOUBLE)'))} AS m
            FROM e1 GROUP BY 1, 2
        ),
        c1 AS MATERIALIZED (
            SELECT cid, LIST(m ORDER BY pos) AS c FROM m1 GROUP BY cid
        ),
        p2 AS (
            SELECT v.vec_id, c1.cid,
                   {_sql_d2('v.embedding', 'c1.c')} AS d2
            FROM v CROSS JOIN c1
        ),
        a2 AS (
            SELECT vec_id, cid, d2 FROM (
                SELECT vec_id, cid, d2,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY d2, cid) AS rn
                FROM p2
            ) r WHERE rn = 1
        )
        SELECT cid,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               {sql_round4(sql_davg('d2'))} AS mean_d2
        FROM a2 GROUP BY cid
    """,
    tags=("llm", "embedding", "ml"),
    bench=True,
)
def ml_kmeans_lloyd(spark: SparkSession, sf: str) -> DataFrame:
    """Lloyd's k-means on the embedding corpus, two iterations unrolled:
    K=8 deterministic seeds (vec_id < 8) → assign (argmin squared-L2,
    ties to lowest cid) → centroid update (per-dimension decimal-exact
    mean, rounded to the portable 1e-4 grid so both engines hold
    IDENTICAL centroids) → reassign → per-cluster size + mean distortion.
    The iterative-ML pattern on DataFrames: each iteration is one corpus
    scan against K broadcast centroids plus one (cid, dim)-keyed partial
    agg — 8×64 cells regardless of corpus size. More iterations repeat
    the same two stages (with ``localCheckpoint`` per round to keep plan
    growth linear); the fixed 2-round unroll is what makes an exact SQL
    oracle replay possible.

    Round 10 (guide §2.4/§2.6): the argmin was a row_number window —
    a full n·K-row shuffle plus a sort just to pick each vector's
    minimum. It is now ``min(struct(d2, cid))`` — a hash aggregate with
    map-side partial combine (n·K rows reduce to n BEFORE the exchange),
    no sort, same winner bit-for-bit (struct ordering is lexicographic
    (d2, cid), exactly the window's ORDER BY d2, cid with no NULL d2 in
    play). The serial single-row-group fixture scan that fed both
    crossJoin assign passes one core is ``spread`` cores-wide — the K
    broadcast-d² folds per row are order-independent."""
    emb = load_table(spark, sf, "embeddings")
    # A vector-class row carries ~d² work (ml_pca_power's outer product);
    # a row here folds K=8 centroids of d=64 dims, K·d = an eighth of
    # that. At 32 cores a full-width spread of this many-stage plan read
    # 1.57 s against 0.99 s at 4 tasks (sf0.1).
    v = spread(
        emb.select("vec_id", "embedding"), "vec_id", sf=sf, table="embeddings",
        cost="vector", weight=8 / 64,
    )

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def assign(cent):
        p = v.crossJoin(F.broadcast(cent)).select(
            "vec_id", "cid", d2(F.col("embedding"), F.col("c")).alias("d2")
        )
        return (
            p.groupBy("vec_id")
            .agg(F.min(F.struct("d2", "cid")).alias("best"))
            .select("vec_id", F.col("best.cid").alias("cid"), F.col("best.d2").alias("d2"))
        )

    def update(ass):
        e = v.join(ass, "vec_id").select(
            "cid", F.posexplode("embedding").alias("pos", "val")
        )
        m = e.groupBy("cid", "pos").agg(
            round4(davg(F.col("val").cast("double"))).alias("m")
        )
        return m.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )

    cent0 = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c"),
    )
    a1 = assign(cent0)
    cent1 = update(a1)
    a2 = assign(cent1)
    return a2.groupBy("cid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        round4(davg(F.col("d2"))).alias("mean_d2"),
    )


@query(
    "llm_sketch_countmin",
    oracle="""
        WITH tok AS (
            SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
            FROM documents
        ),
        tc AS (
            SELECT token, COUNT(*) AS true_c FROM tok GROUP BY token
        ),
        cells AS (
            SELECT d.i,
                   CAST(('0x' || SUBSTRING(
                       MD5(tc.token || ':' || CAST(d.i AS VARCHAR)), 1, 8
                   ))::BIGINT % 256 AS INT) AS col,
                   tc.token, tc.true_c
            FROM tc CROSS JOIN (SELECT UNNEST(range(0, 4)) AS i) d
        ),
        cms AS (
            SELECT i, col, CAST(SUM(true_c) AS BIGINT) AS counter
            FROM cells GROUP BY i, col
        ),
        est AS (
            SELECT c.token, MAX(c.true_c) AS true_c,
                   MIN(m.counter) AS est_c
            FROM cells c JOIN cms m ON c.i = m.i AND c.col = m.col
            GROUP BY c.token
        )
        SELECT token,
               CAST(true_c AS BIGINT) AS true_c,
               CAST(est_c AS BIGINT) AS est_c,
               est_c >= true_c AS never_underestimates
        FROM est WHERE true_c >= 50
    """,
    tags=("llm", "sketch"),
)
def llm_sketch_countmin(spark: SparkSession, sf: str) -> DataFrame:
    """Count-Min sketch (depth 4 × width 256) built and queried entirely
    as DataFrames, with md5-derived row hashes BOTH engines replay
    bit-for-bit — a custom sketch the engine lacks natively, implemented
    portably rather than via an opaque built-in (cf. the rows-only
    ``agg_approx_*`` ops, whose sketch bytes are implementation-specific).
    Build: token counts → 4 (row, col) cells each → 1024-cell sum. Query:
    heavy-hitter estimate = min over the 4 counters; CMS guarantees
    est ≥ true (asserted as a column). At 100 TB the 1024-cell sketch is
    a broadcastable heavy-hitter filter refreshed per batch — the
    pre-screen before an exact count of candidates only."""
    d = load_table(spark, sf, "documents")
    tc = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_c"))
    )
    rows = spark.range(4).select(F.col("id").cast("int").alias("i"))
    col = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("token"), F.lit(":"), F.col("i").cast("string"))),
                1, 8,
            ),
            16, 10,
        ).cast("bigint") % 256
    ).cast("int")
    cells = tc.crossJoin(F.broadcast(rows)).select(
        "i", col.alias("col"), "token", "true_c"
    )
    cms = cells.groupBy("i", "col").agg(
        F.sum("true_c").cast("bigint").alias("counter")
    )
    est = (
        cells.join(F.broadcast(cms), ["i", "col"])
        .groupBy("token")
        .agg(
            F.max("true_c").alias("true_c"),
            F.min("counter").alias("est_c"),
        )
    )
    return est.filter(F.col("true_c") >= 50).select(
        "token",
        F.col("true_c").cast("bigint").alias("true_c"),
        F.col("est_c").cast("bigint").alias("est_c"),
        (F.col("est_c") >= F.col("true_c")).alias("never_underestimates"),
    )


@query(
    "llm_embed_pq",
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
        ),
        seeds AS MATERIALIZED (
            SELECT vec_id AS cid, embedding AS s FROM embeddings
            WHERE vec_id < 16
        ),
        sub AS (
            SELECT v.vec_id, m.m, seeds.cid,
                   {_sql_d2("LIST_SLICE(v.embedding, m.m * 8 + 1, m.m * 8 + 8)",
                            "LIST_TRANSFORM(LIST_SLICE(seeds.s, m.m * 8 + 1, m.m * 8 + 8), x -> CAST(x AS DOUBLE))")}
                       AS d2
            FROM v
            CROSS JOIN (SELECT UNNEST(range(0, 8)) AS m) m
            CROSS JOIN seeds
        ),
        best AS (
            SELECT vec_id, m, cid, d2 FROM (
                SELECT vec_id, m, cid, d2,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
                FROM sub
            ) r WHERE rn = 1
        )
        SELECT vec_id,
               ARRAY_TO_STRING(LIST(CAST(cid AS INT) ORDER BY m), '|') AS pq_code,
               {sql_round4(sql_dsum_local := "CAST(CAST(SUM(CAST(d2 AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)")}
                   AS quant_error
        FROM best
        GROUP BY vec_id
    """,
    tags=("llm", "embedding", "sketch"),
)
def llm_embed_pq(spark: SparkSession, sf: str) -> DataFrame:
    """Product quantization: the 64-dim vector splits into M=8 subvectors
    of 8 dims; each is coded as its nearest of 16 sub-codewords
    (deterministic seeds: vec_id < 16, sliced per subspace) → an 8-byte
    code replaces 256 bytes of floats (32× compression), plus the exact
    per-vector quantization error. Completes the vector-index family:
    sign-LSH (hash buckets) and IVF (coarse cells) prune the SEARCH;
    PQ compresses the RESIDENT vectors so a 100 TB corpus's codes fit in
    a fraction of the footprint and distance approximation happens over
    codes. All subspace math rides the same fold-portable d2 as k-means;
    codes are engine-exact, the error decimal-summed across subspaces."""
    emb = load_table(spark, sf, "embeddings")
    v = emb.select("vec_id", "embedding")
    seeds = v.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("s"),
    )
    ms = spark.range(8).select(F.col("id").cast("int").alias("m"))

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sub = (
        v.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(seeds))
        .select(
            "vec_id", "m", "cid",
            d2(
                F.slice("embedding", F.col("m") * 8 + 1, 8),
                F.slice("s", F.col("m") * 8 + 1, 8),
            ).alias("d2"),
        )
    )
    from pyspark.sql.window import Window as W_

    w = W_.partitionBy("vec_id", "m").orderBy("d2", "cid")
    best = (
        sub.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cid", "d2")
    )
    return best.groupBy("vec_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "cid"))),
                lambda s: s["cid"].cast("int").cast("string"),
            ),
            "|",
        ).alias("pq_code"),
        round4(F.sum(F.col("d2").cast(DEC)).cast("double")).alias("quant_error"),
    )


@query(
    "llm_readability",
    oracle="""
        WITH m AS (
            SELECT doc_id,
                   LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_words,
                   GREATEST(LEN(regexp_extract_all(text, '[.!?]+')), 1)
                       AS n_sents,
                   GREATEST(LEN(regexp_extract_all(LOWER(text), '[aeiouy]+')),
                            1) AS n_syll
            FROM documents
        )
        SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
               CAST(n_sents AS BIGINT) AS n_sents,
               CAST(n_syll AS BIGINT) AS n_syll,
               FLOOR((206.835
                      - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
                      - 84.6 * (CAST(n_syll AS DOUBLE) / n_words))
                     * 10000.0 + 0.5) / 10000.0 AS flesch
        FROM m
    """,
    tags=("llm", "text", "quality"),
)
def llm_readability(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading-ease per document, with the standard streaming-safe
    approximations: sentences = punctuation runs, syllables = vowel-group
    count (the classic dictionary-free estimator). Pure regexp projection
    — zero shuffle, rides the same scan as the other quality signals and
    joins the gate in ``llm_quality_gopher`` as another filter term."""
    d = load_table(spark, sf, "documents")
    n_words = F.size(F.split(F.lower("text"), " "))
    n_sents = F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
    n_syll = F.greatest(
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")), F.lit(1)
    )
    m = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_sents.alias("n_sents"),
        n_syll.alias("n_syll"),
    )
    flesch = (
        F.lit(206.835)
        - 1.015 * (F.col("n_words").cast("double") / F.col("n_sents"))
        - 84.6 * (F.col("n_syll").cast("double") / F.col("n_words"))
    )
    return m.select(
        "doc_id",
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_sents").cast("bigint").alias("n_sents"),
        F.col("n_syll").cast("bigint").alias("n_syll"),
        (F.floor(flesch * 10000.0 + 0.5) / 10000.0).alias("flesch"),
    )


@query(
    "llm_sketch_linear_count",
    oracle="""
        WITH tok AS (
            SELECT DISTINCT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS token
            FROM documents
        ),
        hits AS (
            SELECT COUNT(DISTINCT
                       CAST(('0x' || SUBSTRING(MD5(token || ':lc'), 1, 8))
                            ::BIGINT % 1024 AS INT)) AS buckets_hit,
                   COUNT(*) AS true_distinct
            FROM tok
        )
        SELECT CAST(buckets_hit AS BIGINT) AS buckets_hit,
               CAST(true_distinct AS BIGINT) AS true_distinct,
               FLOOR((-1024.0 * LN(1.0 - buckets_hit / 1024.0))
                     * 10000.0 + 0.5) / 10000.0 AS lc_estimate
        FROM hits
    """,
    tags=("llm", "sketch"),
)
def llm_sketch_linear_count(spark: SparkSession, sf: str) -> DataFrame:
    """Linear-counting distinct sketch, portably: tokens hash (md5, both
    engines replay it) into a 1024-bucket bitmap; the estimator is
    −m·ln(empty/m). Beside the built-in HLL (``agg_approx_distinct``,
    rows-only because its sketch bytes are implementation-specific), this
    shows the same idea built from first principles WITH an exact oracle.
    The bitmap is a 1024-key partial agg — mergeable across partitions
    and days like any sum, which is what makes sketch-based distinct
    counting work incrementally at 100 TB."""
    d = load_table(spark, sf, "documents")
    tok = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .distinct()
    )
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("token"), F.lit(":lc"))), 1, 8),
            16, 10,
        ).cast("bigint") % 1024
    ).cast("int")
    hits = tok.agg(
        F.countDistinct(bucket).alias("buckets_hit"),
        F.count(F.lit(1)).alias("true_distinct"),
    )
    est = -1024.0 * F.log(1.0 - F.col("buckets_hit") / 1024.0)
    return hits.select(
        F.col("buckets_hit").cast("bigint").alias("buckets_hit"),
        F.col("true_distinct").cast("bigint").alias("true_distinct"),
        (F.floor(est * 10000.0 + 0.5) / 10000.0).alias("lc_estimate"),
    )


@query(
    "llm_winnowing",
    oracle="""
        WITH tok AS (
            SELECT doc_id, STRING_SPLIT(LOWER(text), ' ') AS toks
            FROM documents
        ),
        hashed AS (
            SELECT doc_id,
                   [CAST(('0x' || SUBSTRING(MD5(
                        toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                    ), 1, 8))::BIGINT AS BIGINT)
                    FOR i IN RANGE(1, LEN(toks) - 1)] AS h
            FROM tok WHERE LEN(toks) >= 6
        ),
        fp AS (
            SELECT doc_id,
                   LIST_SORT(LIST_DISTINCT(
                       [LIST_MIN(h[j:j+3]) FOR j IN RANGE(1, LEN(h) - 2)]
                   )) AS fingerprints
            FROM hashed
        )
        SELECT doc_id,
               CAST(LEN(fingerprints) AS INT) AS n_fp,
               fingerprints[1] AS min_fp,
               fingerprints[LEN(fingerprints)] AS max_fp
        FROM fp
    """,
    tags=("llm", "dedup", "fingerprint"),
)
def llm_winnowing(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    word 3-gram, slide a window of 4 hashes, keep each window's minimum —
    guaranteed to select at least one fingerprint per window, so any
    sufficiently long shared passage between two documents shares a
    fingerprint, with ~2/(w+1) selection density. Entirely array-local
    (transform over slices — zero shuffle, codegen'd); the distinct
    sorted fingerprint set is the per-doc signature that joins the same
    inverted-index dedup machinery as shingles, at ~25% the index size.
    md5-derived hashes make engine and oracle select identical mins."""
    d = load_table(spark, sf, "documents")
    toks = F.split(F.lower("text"), " ")
    t = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 6)
    h = F.expr(
        "transform(sequence(0, size(toks) - 3), i -> "
        "cast(conv(substring(md5(concat_ws(' ', toks[i], toks[i+1], toks[i+2])"
        "), 1, 8), 16, 10) as bigint))"
    )
    hashed = t.select("doc_id", h.alias("h"))
    wins = F.expr(
        "transform(sequence(1, size(h) - 3), j -> array_min(slice(h, j, 4)))"
    )
    fp = hashed.select(
        "doc_id", F.array_sort(F.array_distinct(wins)).alias("fingerprints")
    )
    return fp.select(
        "doc_id",
        F.size("fingerprints").alias("n_fp"),
        F.element_at("fingerprints", 1).alias("min_fp"),
        F.element_at("fingerprints", -1).alias("max_fp"),
    )


@query(
    "llm_entropy_score",
    oracle="""
        WITH chars AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), '')) AS ch
            FROM documents
        ),
        cc AS (
            SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch
        ),
        tot AS (
            SELECT doc_id, SUM(c) AS n FROM cc GROUP BY doc_id
        )
        SELECT cc.doc_id,
               CAST(MAX(tot.n) AS BIGINT) AS n_chars,
               CAST(COUNT(*) AS INT) AS alphabet_size,
               FLOOR((-SUM((CAST(cc.c AS DOUBLE) / tot.n)
                           * LN(CAST(cc.c AS DOUBLE) / tot.n) / LN(2.0)))
                     * 10000.0 + 0.5) / 10000.0 AS entropy_bits
        FROM cc JOIN tot ON cc.doc_id = tot.doc_id
        GROUP BY cc.doc_id
    """,
    tags=("llm", "text", "quality"),
)
def llm_entropy_score(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon character entropy per document (bits/char): natural text
    sits ~3.5–4.5 bits; base64 blobs, hex dumps, and repeated-character
    spam land far outside — a one-pass gibberish detector that needs no
    dictionary. Shuffles on (doc_id, char): alphabet-bounded per doc, so
    partial aggregation collapses almost everything map-side. The -Σp·lg p
    sum is order-dependent float in principle, but both engines sum the
    identical ≤alphabet-size term set; round4 absorbs the residue."""
    d = load_table(spark, sf, "documents")
    cc = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = cc.groupBy("doc_id").agg(F.sum("c").alias("n"))
    j = cc.join(tot, "doc_id")
    p = F.col("c").cast("double") / F.col("n")
    return j.groupBy("doc_id").agg(
        F.max("n").cast("bigint").alias("n_chars"),
        F.count(F.lit(1)).cast("int").alias("alphabet_size"),
        (F.floor(
            (-F.sum(p * F.log(p) / F.log(F.lit(2.0)))) * 10000.0 + 0.5
        ) / 10000.0).alias("entropy_bits"),
    )


@query(
    "llm_quality_composite",
    oracle=f"""
        WITH gopher AS ({_REG["llm_quality_gopher"].oracle}),
        entropy AS ({_REG["llm_entropy_score"].oracle}),
        readability AS ({_REG["llm_readability"].oracle})
        SELECT g.doc_id,
               g.keep AS keep_gopher,
               (e.entropy_bits >= 3.0 AND e.entropy_bits <= 5.2)
                   AS keep_entropy,
               (r.flesch > 0.0) AS keep_readability,
               (g.keep AND e.entropy_bits >= 3.0 AND e.entropy_bits <= 5.2
                AND r.flesch > 0.0) AS keep_final
        FROM gopher g
        JOIN entropy e ON g.doc_id = e.doc_id
        JOIN readability r ON g.doc_id = r.doc_id
    """,
    tags=("llm", "quality", "pipeline"),
)
def llm_quality_composite(spark: SparkSession, sf: str) -> DataFrame:
    """The assembled quality gate: Gopher repetition/composition signals ∧
    entropy band (3.0–5.2 bits/char ≈ natural text) ∧ readability floor —
    each signal a registered operator, each oracle composed verbatim, so
    the COMBINED policy is engine-checked end to end. All three signals
    derive from the same documents scan; Catalyst shares nothing across
    the joins here by default, but at 100 TB you'd compute the signals in
    one pass (they're sibling aggregates) and this op is the policy spec
    the fused job must reproduce — which is exactly what the oracle
    verifies."""
    g = _REG["llm_quality_gopher"].fn(spark, sf).select("doc_id", "keep")
    e = _REG["llm_entropy_score"].fn(spark, sf).select("doc_id", "entropy_bits")
    r = _REG["llm_readability"].fn(spark, sf).select("doc_id", "flesch")
    j = g.join(e, "doc_id").join(r, "doc_id")
    keep_entropy = (F.col("entropy_bits") >= 3.0) & (F.col("entropy_bits") <= 5.2)
    keep_read = F.col("flesch") > 0.0
    return j.select(
        "doc_id",
        F.col("keep").alias("keep_gopher"),
        keep_entropy.alias("keep_entropy"),
        keep_read.alias("keep_readability"),
        (F.col("keep") & keep_entropy & keep_read).alias("keep_final"),
    )


@query(
    "llm_zipf_fit",
    oracle="""
        WITH tc AS (
            SELECT tok, COUNT(*) AS c
            FROM (SELECT UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS tok
                  FROM documents) t
            GROUP BY tok
        ),
        ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) AS rnk
            FROM tc
        ),
        pts AS (
            SELECT LN(CAST(rnk AS DOUBLE)) AS x, LN(CAST(c AS DOUBLE)) AS y
            FROM ranked WHERE rnk <= 1000
        ),
        s AS (
            SELECT COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sx,
                   CAST(CAST(SUM(CAST(y AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sy,
                   CAST(CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sxx,
                   CAST(CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS VARCHAR) AS DOUBLE) AS sxy
            FROM pts
        )
        SELECT CAST(n AS BIGINT) AS n_points,
               FLOOR(((sxy - sx * sy / n) / (sxx - sx * sx / n))
                     * 10000.0 + 0.5) / 10000.0 AS zipf_slope,
               FLOOR(((sy - ((sxy - sx * sy / n) / (sxx - sx * sx / n)) * sx)
                      / n) * 10000.0 + 0.5) / 10000.0 AS intercept
        FROM s
    """,
    tags=("llm", "text", "stats"),
)
def llm_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf's-law fit over the top-1000 token ranks: least-squares slope
    of ln(freq) on ln(rank) — natural language sits near −1; a corpus
    that drifts far off is boilerplate-heavy or synthetic, making the
    slope a cheap corpus-health dial. The regression is four decimal-exact
    power sums finished with one fixed double formula (same discipline as
    ``agg_moments``); ranking ties break on token so both engines rank
    identically."""
    d = load_table(spark, sf, "documents")
    tc = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    from pyspark.sql.window import Window as W_

    ranked = tc.select(
        "c", F.row_number().over(W_.orderBy(F.col("c").desc(), F.col("tok"))).alias("rnk")
    ).filter(F.col("rnk") <= 1000)
    pts = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    D18 = "decimal(38,18)"
    s = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x").cast(D18)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(D18)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(D18)).cast("double").alias("sxx"),
        F.sum((F.col("x") * F.col("y")).cast(D18)).cast("double").alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        (F.floor(slope * 10000.0 + 0.5) / 10000.0).alias("zipf_slope"),
        (F.floor(intercept * 10000.0 + 0.5) / 10000.0).alias("intercept"),
    )


@query(
    "llm_dedup_paragraph",
    oracle="""
        WITH tok AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS toks FROM documents
        ),
        blk AS (
            SELECT doc_id, i AS blk_idx,
                   ARRAY_TO_STRING(toks[(i*16+1):(i*16+16)], ' ') AS btext,
                   LEAST(16, LEN(toks) - i*16) AS btok
            FROM tok
            CROSS JOIN UNNEST(RANGE(0, CAST(CEIL(LEN(toks)/16.0) AS INT))) AS t(i)
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY btext
                                         ORDER BY doc_id, blk_idx) AS rn
            FROM blk
        )
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_dropped,
               CAST(SUM(CASE WHEN rn = 1 THEN btok ELSE 0 END) AS BIGINT)
                   AS n_tokens_kept
        FROM ranked GROUP BY doc_id
    """,
    tags=("llm", "dedup"),
)
def llm_dedup_paragraph(spark: SparkSession, sf: str) -> DataFrame:
    """Sub-document (C4/RefinedWeb-style) duplicate-segment removal: every
    doc is cut into non-overlapping 16-token blocks; a block whose text
    already occurred earlier in the corpus scan order (first occurrence =
    min (doc_id, blk_idx)) is dropped, and the per-doc retained token mass
    reported. This is the layer *between* ``llm_dedup_exact`` (whole-doc)
    and ``llm_dedup_near`` (fuzzy doc pairs): boilerplate repeated across
    otherwise-distinct pages is removed block-wise.

    Plan shape: the block fan-out is array-local (``posexplode`` over a
    per-doc ``transform(sequence)``, zero shuffle), then ONE shuffle on the
    block-text hash for the first-occurrence window, then one agg back on
    doc_id. No global sort anywhere: the first-occurrence window partitions
    by block text (hash-partitioned exchange, per-partition local sort on
    the tiny (doc_id, blk_idx) pair). Reference parity: the framework's
    pipelines have no sub-document ops (SURVEY.md §2A); this comes from the
    north-star extension set (BASELINE.json:6 dedup family)."""
    d = load_table(spark, sf, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("toks"))
    nblk = F.ceil(F.size("toks") / F.lit(16.0)).cast("int")
    blocks = tok.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nblk - 1),
                lambda i: F.array_join(F.slice("toks", i * 16 + 1, 16), " "),
            )
        ).alias("blk_idx", "btext"),
        F.size("toks").alias("n_toks"),
    ).withColumn(
        "btok", F.least(F.lit(16), F.col("n_toks") - F.col("blk_idx") * 16)
    )
    from pyspark.sql.window import Window as W

    # Partition the window by the block text itself: the exchange hash-
    # partitions on the expression's hash anyway, and unlike grouping by
    # xxhash64(btext) this can never interleave two colliding texts into
    # one row_number sequence.
    first = F.row_number().over(
        W.partitionBy("btext").orderBy("doc_id", "blk_idx")
    )
    ranked = blocks.withColumn("rn", first)
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dropped"),
        F.sum(F.when(F.col("rn") == 1, F.col("btok")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_kept"),
    )


@query(
    "llm_repetition_ngram",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS t FROM documents
        ),
        tg AS (
            SELECT doc_id, lang,
                   [ARRAY_TO_STRING(t[i:i+2], ' ')
                    for i in RANGE(1, LEN(t) - 1)] AS g
            FROM toks WHERE LEN(t) >= 3
        )
        SELECT doc_id, lang,
               CAST(LEN(g) AS BIGINT) AS n_trigrams,
               CAST(LEN(LIST_DISTINCT(g)) AS BIGINT) AS n_unique,
               {sql_round4(
                   "CAST(LEN(g) - LEN(LIST_DISTINCT(g)) AS DOUBLE) / LEN(g)"
               )} AS dup_frac
        FROM tg
    """,
    tags=("llm", "quality"),
)
def llm_repetition_ngram(spark: SparkSession, sf: str) -> DataFrame:
    """Within-document duplicate-trigram fraction — the Gopher repetition
    signal family's n-gram member (`llm_quality_gopher` covers top-token
    fraction; this covers "duplicate 3-grams" — boilerplate and
    copy-paste loops score high). Entirely array-local: trigrams are
    built by a `transform` over an index sequence (no explode, no
    shuffle), and the array column is referenced twice (`size` +
    `size(array_distinct)`) which blocks CollapseProject from inlining
    the lambda twice (SCALE.md §4.2). Zero-exchange projection — at
    100 TB this runs scan-bound alongside the other per-doc quality
    gates in `llm_quality_composite`."""
    d = load_table(spark, sf, "documents")
    tok = d.select("doc_id", "lang", F.split("text", " ").alias("toks"))
    tg = tok.filter(F.size("toks") >= 3).select(
        "doc_id",
        "lang",
        F.expr(
            "transform(sequence(1, size(toks) - 2),"
            " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1]))"
        ).alias("g"),
    )
    n_tg = F.size("g").cast("bigint")
    n_uq = F.size(F.array_distinct("g")).cast("bigint")
    return tg.select(
        "doc_id",
        "lang",
        n_tg.alias("n_trigrams"),
        n_uq.alias("n_unique"),
        round4((n_tg - n_uq).cast("double") / n_tg).alias("dup_frac"),
    )


@query(
    "llm_ngram_novelty",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, STRING_SPLIT(text, ' ') AS t FROM documents
        ),
        grams AS (
            SELECT doc_id,
                   UNNEST(LIST_DISTINCT(
                       [ARRAY_TO_STRING(t[i:i+7], ' ')
                        for i in RANGE(1, LEN(t) - 6)]
                   )) AS g
            FROM toks WHERE LEN(t) >= 8
        ),
        first_seen AS (
            SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g
        )
        SELECT gr.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN gr.doc_id = f.first_doc THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               {sql_round4(
                   "CAST(SUM(CASE WHEN gr.doc_id = f.first_doc THEN 1 ELSE 0 END)"
                   " AS DOUBLE) / COUNT(*)"
               )} AS novelty
        FROM grams gr JOIN first_seen f ON gr.g = f.g
        GROUP BY gr.doc_id
    """,
    tags=("llm", "quality", "dedup"),
)
def llm_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-order 8-gram novelty per document: the fraction of a doc's
    distinct 8-grams whose first corpus occurrence (min doc_id) is that
    doc — low novelty flags documents that mostly restate earlier corpus
    content, the streaming-ingest cousin of `llm_dedup_paragraph` and the
    metric behind "how much new text does this crawl snapshot add".
    The distinct-gram array is built and deduped array-locally and
    inlined directly into `explode(...)` (SCALE.md §4.1 — no inferred
    size()>0 re-evaluation); the gram→min(doc_id) aggregate is the one
    fact-sized shuffle, map-side-combined since duplicate grams
    concentrate within partitions. At 100 TB grams become 64-bit
    xxhash64 fingerprints (collision-safe at corpus scale) to shrink the
    exchange ~6× — semantics unchanged."""
    d = load_table(spark, sf, "documents")
    tok = d.select("doc_id", F.split("text", " ").alias("toks")).filter(
        F.size("toks") >= 8
    )
    grams = tok.select(
        "doc_id",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(1, size(toks) - 7),"
                " i -> concat_ws(' ', slice(toks, i, 8))))"
            )
        ).alias("g"),
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0)
    )
    return (
        grams.join(first_seen, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            novel.cast("bigint").alias("n_novel"),
            round4(novel.cast("double") / F.count(F.lit(1))).alias("novelty"),
        )
    )


@query(
    "llm_embed_matryoshka",
    oracle=f"""
        WITH per AS (
            SELECT label,
                   {sql_dot('embedding[1:8]', 'embedding[1:8]')} AS e8,
                   {sql_dot('embedding[1:16]', 'embedding[1:16]')} AS e16,
                   {sql_dot('embedding[1:32]', 'embedding[1:32]')} AS e32,
                   {sql_dot('embedding', 'embedding')} AS efull
            FROM embeddings
        )
        SELECT label,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               {sql_round4(sql_davg('e8 / efull'))} AS energy_8,
               {sql_round4(sql_davg('e16 / efull'))} AS energy_16,
               {sql_round4(sql_davg('e32 / efull'))} AS energy_32
        FROM per
        GROUP BY label
    """,
    tags=("llm", "embedding", "similarity"),
)
def llm_embed_matryoshka(spark: SparkSession, sf: str) -> DataFrame:
    """Matryoshka (MRL) truncation audit: how much of each vector's L2
    energy survives truncation to the first 8/16/32 dims, averaged per
    label. This is the go/no-go dial for serving truncated embeddings
    (MRL-style) instead of the full 64 dims — if energy_16 ≈ 1, a 4×
    cheaper ANN index loses nothing. Per-vector energies are sequential
    double folds over prefix slices (bit-identical on both engines);
    ratios are row-wise double divisions; the per-label mean rides the
    decimal-sum convention. One projection + one small groupBy — the
    only shuffle is |labels| rows wide, so at 100 TB this is a single
    map-side-combined pass over the corpus."""
    emb = load_table(spark, sf, "embeddings")
    e = emb.select(
        "label",
        dot(F.slice("embedding", 1, 8), F.slice("embedding", 1, 8)).alias("e8"),
        dot(F.slice("embedding", 1, 16), F.slice("embedding", 1, 16)).alias("e16"),
        dot(F.slice("embedding", 1, 32), F.slice("embedding", 1, 32)).alias("e32"),
        dot("embedding", "embedding").alias("efull"),
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        round4(davg(F.col("e8") / F.col("efull"))).alias("energy_8"),
        round4(davg(F.col("e16") / F.col("efull"))).alias("energy_16"),
        round4(davg(F.col("e32") / F.col("efull"))).alias("energy_32"),
    )


@query(
    "llm_ann_pq_adc",
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
        ),
        seeds AS MATERIALIZED (
            SELECT vec_id AS cid, embedding AS s FROM embeddings
            WHERE vec_id < 16
        ),
        sub AS (
            SELECT v.vec_id, m.m, seeds.cid,
                   {_sql_d2("LIST_SLICE(v.embedding, m.m * 8 + 1, m.m * 8 + 8)",
                            "LIST_TRANSFORM(LIST_SLICE(seeds.s, m.m * 8 + 1, m.m * 8 + 8), x -> CAST(x AS DOUBLE))")}
                       AS d2
            FROM v
            CROSS JOIN (SELECT UNNEST(range(0, 8)) AS m) m
            CROSS JOIN seeds
        ),
        codes AS MATERIALIZED (
            SELECT vec_id, m, cid FROM (
                SELECT vec_id, m, cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id, m ORDER BY d2, cid) AS rn
                FROM sub
            ) r WHERE rn = 1
        ),
        qtab AS MATERIALIZED (
            SELECT q.vec_id AS q_id, m.m, seeds.cid,
                   {_sql_d2("LIST_SLICE(q.embedding, m.m * 8 + 1, m.m * 8 + 8)",
                            "LIST_TRANSFORM(LIST_SLICE(seeds.s, m.m * 8 + 1, m.m * 8 + 8), x -> CAST(x AS DOUBLE))")}
                       AS d2
            FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 4) q
            CROSS JOIN (SELECT UNNEST(range(0, 8)) AS m) m
            CROSS JOIN seeds
        ),
        adc AS (
            SELECT qtab.q_id, codes.vec_id,
                   CAST(CAST(SUM(CAST(qtab.d2 AS DECIMAL(38,8))) AS VARCHAR) AS DOUBLE)
                       AS adc_d2
            FROM codes JOIN qtab
              ON codes.m = qtab.m AND codes.cid = qtab.cid
            WHERE codes.vec_id <> qtab.q_id
            GROUP BY qtab.q_id, codes.vec_id
        )
        SELECT q_id, vec_id AS neighbor_id,
               {sql_round4('adc_d2')} AS adc_dist, rnk
        FROM (
            SELECT q_id, vec_id, adc_d2,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY adc_d2, vec_id) AS INT) AS rnk
            FROM adc
        ) r WHERE rnk <= 5
    """,
    tags=("llm", "embedding", "similarity"),
)
def llm_ann_pq_adc(spark: SparkSession, sf: str) -> DataFrame:
    """PQ asymmetric-distance (ADC) search: the database lives ONLY as
    8-byte PQ codes (llm_embed_pq's assignment replayed); each query
    precomputes an 8×16 table of exact subspace distances to the
    codewords, and the approximate distance to any database vector is
    the sum of 8 table lookups keyed by its code — top-5 per query.
    This is how a 100 TB corpus is searched in RAM: codes (32× smaller
    than floats) shuffle-join the broadcast query tables on (m, cid) —
    512 rows per 4 queries — then one groupBy(q, vec) decimal-sums the
    8 partial distances; no full vector is ever touched at query time.
    Completes LSH (bucket-prune) / IVF (cell-prune) / PQ (compress)
    with the PQ *search* half. Ranking on the decimal-exact ADC sum
    with vec_id tie-break keeps the top-5 engine-exact."""
    emb = load_table(spark, sf, "embeddings")
    v = emb.select("vec_id", "embedding")
    seeds = v.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("s"),
    )
    ms = spark.range(8).select(F.col("id").cast("int").alias("m"))

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    sub = (
        v.crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(seeds))
        .select(
            "vec_id", "m", "cid",
            d2(
                F.slice("embedding", F.col("m") * 8 + 1, 8),
                F.slice("s", F.col("m") * 8 + 1, 8),
            ).alias("d2"),
        )
    )
    from pyspark.sql.window import Window as W_

    wvm = W_.partitionBy("vec_id", "m").orderBy("d2", "cid")
    codes = (
        sub.withColumn("rn", F.row_number().over(wvm))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cid")
    )
    qtab = (
        v.filter(F.col("vec_id") < 4)
        .select(F.col("vec_id").alias("q_id"), "embedding")
        .crossJoin(F.broadcast(ms))
        .crossJoin(F.broadcast(seeds))
        .select(
            "q_id", "m", "cid",
            d2(
                F.slice("embedding", F.col("m") * 8 + 1, 8),
                F.slice("s", F.col("m") * 8 + 1, 8),
            ).alias("d2"),
        )
    )
    adc = (
        codes.join(F.broadcast(qtab), ["m", "cid"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum(F.col("d2").cast(DEC)).cast("double").alias("adc_d2"))
    )
    wq = W_.partitionBy("q_id").orderBy("adc_d2", "vec_id")
    return (
        adc.withColumn("rnk", F.row_number().over(wq).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            round4(F.col("adc_d2")).alias("adc_dist"),
            "rnk",
        )
    )


@query(
    "ml_silhouette",
    oracle=f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, embedding FROM embeddings
        ),
        c0 AS MATERIALIZED (
            SELECT vec_id AS cid,
                   LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS c
            FROM embeddings WHERE vec_id < 8
        ),
        p1 AS (
            SELECT v.vec_id, c0.cid,
                   {_sql_d2('v.embedding', 'c0.c')} AS d2
            FROM v CROSS JOIN c0
        ),
        a1 AS MATERIALIZED (
            SELECT vec_id, cid FROM (
                SELECT vec_id, cid,
                       ROW_NUMBER() OVER (
                           PARTITION BY vec_id ORDER BY d2, cid) AS rn
                FROM p1
            ) r WHERE rn = 1
        ),
        e1 AS (
            SELECT a1.cid,
                   GENERATE_SUBSCRIPTS(v.embedding, 1) AS pos,
                   UNNEST(v.embedding) AS val
            FROM v JOIN a1 USING (vec_id)
        ),
        m1 AS (
            SELECT cid, pos,
                   {sql_round4(sql_davg('CAST(val AS DOUBLE)'))} AS m
            FROM e1 GROUP BY 1, 2
        ),
        c1 AS MATERIALIZED (
            SELECT cid, LIST(m ORDER BY pos) AS c FROM m1 GROUP BY cid
        ),
        p2 AS (
            SELECT v.vec_id, c1.cid,
                   {_sql_d2('v.embedding', 'c1.c')} AS d2,
                   ROW_NUMBER() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY {_sql_d2('v.embedding', 'c1.c')}, c1.cid) AS rn
            FROM v CROSS JOIN c1
        ),
        sil AS (
            SELECT vec_id,
                   MIN(CASE WHEN rn = 1 THEN cid END) AS own_cid,
                   SQRT(MIN(CASE WHEN rn = 1 THEN d2 END)) AS a,
                   SQRT(MIN(CASE WHEN rn = 2 THEN d2 END)) AS b
            FROM p2 WHERE rn <= 2 GROUP BY vec_id
        )
        SELECT own_cid AS cid,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               {sql_round4(sql_davg('(b - a) / GREATEST(a, b)'))} AS mean_silhouette
        FROM sil GROUP BY own_cid
    """,
    tags=("llm", "embedding", "ml"),
)
def ml_silhouette(spark: SparkSession, sf: str) -> DataFrame:
    """Centroid-based (simplified) silhouette of the k-means clustering:
    for every vector, a = distance to its own centroid, b = distance to
    the nearest OTHER centroid, s = (b−a)/max(a,b); per-cluster mean s
    is the separation dial — near 0 means the cluster boundary is
    noise, near 1 means well-separated (the embedding-space health
    check before trusting any cluster-based dedup or mixing decision).
    Reuses ml_kmeans_lloyd's one-update centroids (round4 grid ⇒ both
    engines hold identical centroids); a and b come from ONE K-way
    broadcast distance pass ranked per vector — the two smallest of K
    distances — so the corpus is scanned once; the simplified form
    avoids full silhouette's O(n²) pairwise term by design, which is
    exactly the substitution you make at 100 TB."""
    from pyspark.sql.window import Window as W_

    emb = load_table(spark, sf, "embeddings")
    v = emb.select("vec_id", "embedding")

    def d2(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cent0 = v.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("c"),
    )
    p1 = v.crossJoin(F.broadcast(cent0)).select(
        "vec_id", "cid", d2(F.col("embedding"), F.col("c")).alias("d2")
    )
    w = W_.partitionBy("vec_id").orderBy("d2", "cid")
    a1 = (
        p1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
    )
    e1 = v.join(a1, "vec_id").select(
        "cid", F.posexplode("embedding").alias("pos", "val")
    )
    m1 = e1.groupBy("cid", "pos").agg(
        round4(davg(F.col("val").cast("double"))).alias("m")
    )
    cent1 = m1.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )
    p2 = (
        v.crossJoin(F.broadcast(cent1))
        .select("vec_id", "cid", d2(F.col("embedding"), F.col("c")).alias("d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
    )
    sil = p2.groupBy("vec_id").agg(
        F.min(F.when(F.col("rn") == 1, F.col("cid"))).alias("own_cid"),
        F.sqrt(F.min(F.when(F.col("rn") == 1, F.col("d2")))).alias("a"),
        F.sqrt(F.min(F.when(F.col("rn") == 2, F.col("d2")))).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return sil.groupBy(F.col("own_cid").alias("cid")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        round4(davg(s)).alias("mean_silhouette"),
    )


@query(
    "llm_tfidf_knn",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS t
            FROM documents
        ),
        tf AS (
            SELECT doc_id, t, COUNT(*) AS tf FROM tok GROUP BY doc_id, t
        ),
        df AS (SELECT t, COUNT(*) AS df FROM tf GROUP BY t),
        nn AS (SELECT COUNT(*) AS n FROM documents),
        w AS (
            SELECT tf.doc_id, tf.t,
                   tf.tf * LN(CAST(nn.n AS DOUBLE) / df.df) AS w
            FROM tf JOIN df ON tf.t = df.t CROSS JOIN nn
        ),
        nrm AS (
            SELECT doc_id,
                   SQRT({sql_dsum('w * w')}) AS nrm
            FROM w GROUP BY doc_id
        ),
        dots AS (
            SELECT a.doc_id AS a, b.doc_id AS b,
                   {sql_dsum('a.w * b.w')} AS dot
            FROM w a JOIN w b ON a.t = b.t AND a.doc_id <> b.doc_id
            WHERE a.doc_id < 20
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT a AS anchor_id, b AS neighbor_id, cos, CAST(rnk AS INT) AS rnk
        FROM (
            SELECT d.a, d.b,
                   {sql_round4('d.dot / (na.nrm * nb.nrm)')} AS cos,
                   ROW_NUMBER() OVER (
                       PARTITION BY d.a
                       ORDER BY {sql_round4('d.dot / (na.nrm * nb.nrm)')} DESC,
                                d.b) AS rnk
            FROM dots d
            JOIN nrm na ON d.a = na.doc_id
            JOIN nrm nb ON d.b = nb.doc_id
        ) r WHERE rnk <= 3
    """,
    tags=("llm", "similarity", "sparse"),
)
def llm_tfidf_knn(spark: SparkSession, sf: str) -> DataFrame:
    """Sparse document similarity: top-3 cosine neighbors per anchor in
    TF-IDF space via the INVERTED INDEX — candidate pairs come from
    shared tokens (an equi-join on the term), partial dot products
    decimal-sum per pair, norms join back — never a dense n² product
    and never a vector materialization. This is the lexical twin of
    the embedding ANN family: at 100 TB the token join shuffles on the
    term key (on a natural vocabulary a df cap or AQE skew-split guards the
    stopword postings; the fixture's 31-word vocab makes every term
    dense, so the cap is omitted to keep the result meaningful), anchors are whatever slice you're querying, and cost is
    Σ df² over shared terms — the classic sparse-similarity bound.
    Ranking on round4(cos) with doc tie-break keeps neighbor sets
    engine-exact."""
    d = load_table(spark, sf, "documents")
    tok = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t")
    )
    tf = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.persist()  # df, n, weights, and both join sides derive from it
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    nn = d.agg(F.count(F.lit(1)).alias("n"))  # doc_id is unique per row
    w = (
        tf.join(dfreq, "t")
        .crossJoin(F.broadcast(nn))
        .select(
            "doc_id", "t",
            (F.col("tf") * F.log(F.col("n").cast("double") / F.col("df"))).alias("w"),
        )
        .persist()  # norms + both sides of the pair join read it
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(dsum(F.col("w") * F.col("w"))).alias("nrm"))
    a, b = w.alias("a"), w.alias("b")
    dots = (
        a.filter(F.col("a.doc_id") < 20)
        .join(b, (F.col("a.t") == F.col("b.t")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("a"), F.col("b.doc_id").alias("b"))
        .agg(dsum(F.col("a.w") * F.col("b.w")).alias("dot"))
    )
    from pyspark.sql.window import Window as W_

    na = nrm.withColumnRenamed("doc_id", "a").withColumnRenamed("nrm", "na")
    nb = nrm.withColumnRenamed("doc_id", "b").withColumnRenamed("nrm", "nb")
    cos = round4(F.col("dot") / (F.col("na") * F.col("nb")))
    ranked = (
        dots.join(F.broadcast(na), "a")
        .join(nb, "b")
        .select("a", "b", cos.alias("cos"))
        .withColumn(
            "rnk",
            F.row_number().over(
                W_.partitionBy("a").orderBy(F.desc("cos"), F.asc("b"))
            ).cast("int"),
        )
        .filter(F.col("rnk") <= 3)
    )
    return ranked.select(
        F.col("a").alias("anchor_id"),
        F.col("b").alias("neighbor_id"),
        "cos", "rnk",
    )


@query(
    "llm_context_fit",
    oracle="""
        WITH lens AS (
            SELECT doc_id,
                   LEN(STRING_SPLIT(text, ' ')) AS n_tokens
            FROM documents
        )
        SELECT w.win AS context_window,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN n_tokens <= w.win THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_fit,
               CAST(SUM(LEAST(n_tokens, w.win)) AS BIGINT) AS tokens_kept,
               CAST(SUM(GREATEST(n_tokens - w.win, 0)) AS BIGINT)
                   AS tokens_truncated,
               FLOOR(SUM(CASE WHEN n_tokens <= w.win THEN 1 ELSE 0 END)
                     / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5) / 10000.0
                   AS fit_rate
        FROM lens CROSS JOIN (SELECT UNNEST([128, 512, 2048]) AS win) w
        GROUP BY w.win
    """,
    tags=("llm", "tokenizer", "planning"),
)
def llm_context_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Context-window fit audit: for each candidate window size
    (128/512/2048 tokens) — how many documents fit whole, how many
    tokens survive truncation, how many are thrown away. The
    capacity-planning dial that decides chunking strategy
    (llm_chunk_documents) vs plain truncation vs a longer-context
    model, and the denominator of every 'tokens seen per epoch'
    estimate. One corpus scan against a 3-row broadcast window table;
    token counts are array-local; everything else is a conditional
    aggregate. Trivially 100 TB-safe: map-side combine reduces to
    3 rows."""
    d = load_table(spark, sf, "documents")
    lens = d.select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    wins = spark.range(3).select(
        F.element_at(F.array(F.lit(128), F.lit(512), F.lit(2048)), (F.col("id") + 1).cast("int")).alias("win")
    )
    j = lens.crossJoin(F.broadcast(wins))
    fit = F.sum(F.when(F.col("n_tokens") <= F.col("win"), 1).otherwise(0))
    return j.groupBy(F.col("win").alias("context_window")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        fit.cast("bigint").alias("n_fit"),
        F.sum(F.least(F.col("n_tokens"), F.col("win"))).cast("bigint").alias("tokens_kept"),
        F.sum(F.greatest(F.col("n_tokens") - F.col("win"), F.lit(0))).cast("bigint").alias("tokens_truncated"),
        (F.floor(fit / F.count(F.lit(1)).cast("double") * 10000.0 + 0.5) / 10000.0).alias("fit_rate"),
    )


_SENTIMENT_CASE_SQL = (
    "CASE {c} WHEN 'fast' THEN 2 WHEN 'small' THEN 1 WHEN 'merge' THEN 1 "
    "WHEN 'slow' THEN -2 WHEN 'dup' THEN -3 WHEN 'big' THEN -1 ELSE 0 END"
)


@query(
    "llm_sentiment_lexicon",
    oracle=f"""
        WITH scored AS (
            -- text IS NULL gate: DuckDB's list_prepend(0, NULL)
            -- resurrects [0] and folds to 0; Spark's aggregate is NULL
            SELECT doc_id,
                   LEN(STRING_SPLIT(LOWER(text), ' ')) AS n_tokens,
                   CASE WHEN text IS NULL THEN NULL ELSE
                   list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(STRING_SPLIT(LOWER(text), ' '),
                                      c -> CAST({_SENTIMENT_CASE_SQL.format(c='c')} AS BIGINT))),
                       (a, b) -> a + b) END AS sentiment_sum
            FROM documents
        )
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
               sentiment_sum,
               FLOOR(CAST(sentiment_sum AS DOUBLE) / n_tokens * 10000.0 + 0.5)
                   / 10000.0 AS score,
               CASE WHEN sentiment_sum > 2 THEN 'positive'
                    WHEN sentiment_sum < -2 THEN 'negative'
                    ELSE 'neutral' END AS polarity
        FROM scored
    """,
    tags=("llm", "text", "sentiment"),
)
def llm_sentiment_lexicon(spark: SparkSession, sf: str) -> DataFrame:
    """Lexicon-based sentiment scoring (the AFINN/VADER-lite recipe of
    the retrieved 'Large Scale Sentiment Analysis on Twitter with
    Spark', EDBT 2016): each token maps to an integer valence from an
    inline lexicon (keyed to the fixture vocabulary: fast/small/merge
    positive, slow/dup/big negative), summed per document with a
    length-normalized score and a ±2 polarity gate. The lexicon rides
    INSIDE the fold lambda as a CASE — array-local, ZERO shuffle, no
    join at all; a real 10k-word lexicon becomes a broadcast map or a
    literal map_from_arrays lookup with the identical plan shape.
    Integer sums are exact; the one division is row-wise IEEE."""
    d = load_table(spark, sf, "documents")
    case_expr = _SENTIMENT_CASE_SQL.format(c="c")
    scored = d.select(
        "doc_id",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        F.expr(
            f"aggregate(split(lower(text), ' '), 0L, (a, c) -> a + ({case_expr}))"
        ).alias("sentiment_sum"),
    )
    return scored.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "sentiment_sum",
        (
            F.floor(
                F.col("sentiment_sum").cast("double") / F.col("n_tokens") * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("score"),
        F.when(F.col("sentiment_sum") > 2, "positive")
        .when(F.col("sentiment_sum") < -2, "negative")
        .otherwise("neutral")
        .alias("polarity"),
    )


@query(
    "ml_ranking_metrics",
    oracle=f"""
        WITH ivf AS ({_REG["llm_ann_ivf"].oracle}),
        exact AS (
            SELECT * FROM ({_REG["llm_similarity_topk"].oracle}) e
            WHERE rank <= 5
        ),
        judged AS (
            SELECT ivf.q_id, ivf.rank,
                   CASE WHEN exact.neighbor_id IS NOT NULL
                        THEN 1 ELSE 0 END AS rel
            FROM ivf
            LEFT JOIN exact ON exact.q_id = ivf.q_id
                           AND exact.neighbor_id = ivf.neighbor_id
        ),
        idcg AS (
            SELECT SUM(1.0 / LOG2(CAST(r AS DOUBLE) + 1.0)) AS v
            FROM (SELECT UNNEST([1, 2, 3, 4, 5]) AS r)
        )
        SELECT q_id,
               CAST(SUM(rel) AS BIGINT) AS n_relevant,
               {sql_round4(
                   'SUM(rel / LOG2(CAST(rank AS DOUBLE) + 1.0)) / (SELECT v FROM idcg)'
               )} AS ndcg_at_5,
               {sql_round4(
                   'COALESCE(MAX(CASE WHEN rel = 1 THEN 1.0 / rank END), 0.0)'
               )} AS mrr
        FROM judged
        GROUP BY q_id
    """,
    tags=("llm", "similarity", "eval"),
)
def ml_ranking_metrics(spark: SparkSession, sf: str) -> DataFrame:
    """NDCG@5 and MRR of the IVF index's ranked list against the exact
    top-5 ground truth — the graded companions to ``llm_ann_recall``'s
    set-overlap recall: NDCG rewards putting true neighbors early in the
    list, MRR is the reciprocal rank of the first true neighbor (the
    'how far does a user scroll' metric). Composes the two registered
    operators verbatim (oracle composes their SQL), relevance is binary
    membership in the exact top-5, and the ideal DCG is the closed-form
    5-hit constant. At 100 TB ground truth comes from a sampled query
    panel — exactly this shape."""
    from pyspark.sql.window import Window as _W

    ivf = _REG["llm_ann_ivf"].fn(spark, sf).select("q_id", "neighbor_id", "rank")
    exact = (
        _REG["llm_similarity_topk"].fn(spark, sf)
        .filter(F.col("rank") <= 5)
        .select("q_id", F.col("neighbor_id").alias("e_nb"), F.lit(1).alias("rel"))
    )
    judged = ivf.join(
        exact,
        (ivf.q_id == exact.q_id) & (ivf.neighbor_id == exact.e_nb),
        "left",
    ).select(
        ivf.q_id.alias("q_id"),
        F.col("rank"),
        F.coalesce(F.col("rel"), F.lit(0)).alias("rel"),
    )
    idcg = sum(1.0 / __import__("math").log2(r + 1.0) for r in range(1, 6))
    return judged.groupBy("q_id").agg(
        F.sum("rel").cast("bigint").alias("n_relevant"),
        round4(
            F.sum(F.col("rel") / F.log2(F.col("rank").cast("double") + 1.0))
            / F.lit(idcg)
        ).alias("ndcg_at_5"),
        round4(
            F.coalesce(
                F.max(F.when(F.col("rel") == 1, 1.0 / F.col("rank"))), F.lit(0.0)
            )
        ).alias("mrr"),
    )


@query(
    "llm_word_burstiness",
    oracle=f"""
        WITH ex AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents
        ),
        w AS (
            SELECT tok,
                   CAST(COUNT(*) AS BIGINT) AS cf,
                   CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM ex GROUP BY tok
        )
        SELECT tok, cf, df,
               {sql_round4('CAST(cf AS DOUBLE) / df')} AS burstiness
        FROM w
        ORDER BY cf DESC, tok ASC
        LIMIT 15
    """,
    tags=("llm", "text", "stats"),
)
def llm_word_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Church–Gale word burstiness: collection frequency over document
    frequency per token — cf/df ≈ 1 marks evenly sprinkled function
    words, ≫1 marks bursty content words that pile up inside few
    documents (the signal separating topical terms from glue, and a
    cheap feature for ``llm_quality_*`` filters). One explode + one
    two-measure aggregate; the distinct-doc count rides the same shuffle
    as the total count (partial distinct per token key). Top-15 by cf
    with full tie-breaks keeps the output stable across engines and
    scale factors."""
    d = load_table(spark, sf, "documents")
    ex = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    w = ex.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    return (
        w.select(
            "tok", "cf", "df",
            round4(F.col("cf").cast("double") / F.col("df")).alias("burstiness"),
        )
        .orderBy(F.col("cf").desc(), F.col("tok").asc())
        .limit(15)
    )


@query(
    "llm_template_prefix",
    oracle="""
        WITH pref AS (
            -- COALESCE to '': Spark's concat_ws never returns NULL, so
            -- NULL-text docs group under the empty prefix
            SELECT doc_id, lang,
                   COALESCE(ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[1:2], ' '),
                            '') AS prefix2
            FROM documents
        ),
        grp AS (
            SELECT prefix2,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
                   CAST(MIN(doc_id) AS BIGINT) AS first_doc
            FROM pref GROUP BY prefix2
        )
        SELECT prefix2, n_docs, n_langs, first_doc
        FROM grp
        WHERE n_docs >= 2
        ORDER BY n_docs DESC, prefix2 ASC
        LIMIT 15
    """,
    tags=("llm", "text", "dedup"),
)
def llm_template_prefix(spark: SparkSession, sf: str) -> DataFrame:
    """Template/boilerplate mining by shared opening n-gram: group the
    corpus on the first-2-token prefix and surface prefixes that open ≥2
    documents — the cheap screen for scraped templates, licence
    headers, and form letters that near-dup LSH (``llm_dedup_minhash``)
    only catches when the WHOLE document repeats. The prefix is a
    constant-width substring per row, so this is one hash aggregate on
    a short key; at 100 TB the same op runs over a longer prefix hashed
    to 64 bits (``xxhash64``) to keep shuffle rows narrow. Deterministic
    top-15 with n_docs/prefix tie-break."""
    d = load_table(spark, sf, "documents")
    pref = d.select(
        "doc_id", "lang",
        F.concat_ws(" ", F.slice(F.split("text", " "), 1, 2)).alias("prefix2"),
    )
    grp = pref.groupBy("prefix2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )
    return (
        grp.filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("prefix2").asc())
        .limit(15)
    )


@query(
    "llm_bleu_pairs",
    oracle=f"""
        -- doc_id is the document identity: physical duplicates collapse
        -- before pairing (LEAD windows and per-doc n-gram grains all
        -- assume the id is a key; matches the Spark side's distinct())
        WITH docs AS (
            SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks
            FROM (SELECT DISTINCT doc_id, lang, text FROM documents)
        ),
        pairs AS (
            SELECT doc_id AS cand_id,
                   LEAD(doc_id) OVER (PARTITION BY lang ORDER BY doc_id)
                       AS ref_id,
                   CAST(LEN(toks) AS BIGINT) AS len_c,
                   CAST(LEAD(LEN(toks)) OVER (PARTITION BY lang ORDER BY doc_id)
                        AS BIGINT) AS len_r
            FROM docs
        ),
        live AS (SELECT * FROM pairs WHERE ref_id IS NOT NULL),
        uni AS (
            SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (SELECT doc_id, UNNEST(toks) AS tok FROM docs)
            GROUP BY doc_id, tok
        ),
        ex AS (
            SELECT doc_id,
                   GENERATE_SUBSCRIPTS(toks, 1) AS pos,
                   UNNEST(toks) AS tok
            FROM docs
        ),
        big AS (
            SELECT doc_id, bigram, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM (
                SELECT doc_id,
                       LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos)
                           || ' ' || tok AS bigram
                FROM ex
            ) WHERE bigram IS NOT NULL
            GROUP BY doc_id, bigram
        ),
        clip1 AS (
            SELECT p.cand_id,
                   CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS clipped
            FROM live p
            JOIN uni c ON c.doc_id = p.cand_id
            JOIN uni r ON r.doc_id = p.ref_id AND r.tok = c.tok
            GROUP BY p.cand_id
        ),
        clip2 AS (
            SELECT p.cand_id,
                   CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS clipped
            FROM live p
            JOIN big c ON c.doc_id = p.cand_id
            JOIN big r ON r.doc_id = p.ref_id AND r.bigram = c.bigram
            GROUP BY p.cand_id
        ),
        scored AS (
            SELECT p.cand_id,
                   COALESCE(c1.clipped, 0) AS k1,
                   COALESCE(c2.clipped, 0) AS k2,
                   p.len_c, p.len_r,
                   CAST(COALESCE(c1.clipped, 0) AS DOUBLE) / p.len_c AS p1,
                   -- NULLIF: a single-token candidate has no bigram slots;
                   -- its p2 is undefined (NULL), not a zero-division
                   CAST(COALESCE(c2.clipped, 0) AS DOUBLE)
                       / NULLIF(p.len_c - 1, 0) AS p2,
                   CASE WHEN p.len_c >= p.len_r THEN 1.0
                        ELSE EXP(1.0 - CAST(p.len_r AS DOUBLE) / p.len_c)
                   END AS bp
            FROM live p
            LEFT JOIN clip1 c1 ON c1.cand_id = p.cand_id
            LEFT JOIN clip2 c2 ON c2.cand_id = p.cand_id
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               {sql_round4(sql_davg('p1'))} AS avg_p1,
               {sql_round4(sql_davg('p2'))} AS avg_p2,
               {sql_round4(sql_davg(
                   'CASE WHEN k1 = 0 OR k2 = 0 THEN 0.0'
                   ' ELSE bp * EXP(0.5 * (LN(p1) + LN(p2))) END'
               ))} AS avg_bleu2
        FROM scored
    """,
    tags=("llm", "text", "similarity"),
)
def llm_bleu_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus self-BLEU (BLEU-2): each document scored against the next
    document of the same language — the generation-diversity metric
    (high self-BLEU = templated/mode-collapsed corpus) computed exactly:
    clipped unigram+bigram precision, geometric mean, brevity penalty.
    The plan is the real distributed-BLEU shape: per-doc n-gram count
    tables (explode + groupBy, map-side combinable), then per-PAIR
    clipped overlap via joins keyed on (doc, n-gram) — never a
    quadratic all-pairs pass, and the per-doc count tables are exactly
    what a 100 TB run would persist once and reuse for every metric
    that needs n-gram profiles. Zero-overlap pairs survive via left
    joins; the smoothed score is 0 there by convention."""
    d = load_table(spark, sf, "documents")
    # distinct first: doc_id is the document identity and every grain
    # below (pairing window, per-doc n-gram tables) assumes it is a key
    docs = (
        d.select("doc_id", "lang", "text")
        .distinct()
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
    )
    from pyspark.sql.window import Window as W

    wl = W.partitionBy("lang").orderBy("doc_id")
    pairs = docs.select(
        F.col("doc_id").alias("cand_id"),
        F.lead("doc_id").over(wl).alias("ref_id"),
        F.size("toks").cast("bigint").alias("len_c"),
        F.lead(F.size("toks")).over(wl).cast("bigint").alias("len_r"),
    ).filter(F.col("ref_id").isNotNull())
    uni = (
        docs.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    big = (
        docs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "zip_with(slice(toks, 1, size(toks) - 1),"
                    "         slice(toks, 2, size(toks) - 1),"
                    "         (x, y) -> concat(x, ' ', y))"
                )
            ).alias("bigram"),
        )
        .groupBy("doc_id", "bigram")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )

    def clipped(counts: DataFrame, key: str) -> DataFrame:
        c = counts.withColumnRenamed("cnt", "c_cnt")
        r = counts.select(
            F.col("doc_id").alias("r_doc"),
            F.col(key).alias(f"r_{key}"),
            F.col("cnt").alias("r_cnt"),
        )
        return (
            pairs.join(c, c["doc_id"] == pairs["cand_id"])
            .join(
                r,
                (F.col("r_doc") == F.col("ref_id"))
                & (F.col(f"r_{key}") == F.col(key)),
            )
            .groupBy("cand_id")
            .agg(F.sum(F.least("c_cnt", "r_cnt")).cast("bigint").alias("clipped"))
        )

    c1 = clipped(uni, "tok").withColumnRenamed("clipped", "k1")
    c2 = clipped(big, "bigram").withColumnRenamed("clipped", "k2")
    scored = (
        pairs.join(c1, "cand_id", "left")
        .join(c2, "cand_id", "left")
        .select(
            F.coalesce(F.col("k1"), F.lit(0)).alias("k1"),
            F.coalesce(F.col("k2"), F.lit(0)).alias("k2"),
            "len_c", "len_r",
        )
        .select(
            "k1", "k2",
            (F.col("k1").cast("double") / F.col("len_c")).alias("p1"),
            # try_divide: single-token candidates have zero bigram slots —
            # p2 is NULL (skipped by the avg), matching the oracle's NULLIF
            F.try_divide(F.col("k2").cast("double"), F.col("len_c") - 1).alias("p2"),
            F.when(F.col("len_c") >= F.col("len_r"), F.lit(1.0))
            .otherwise(F.exp(1.0 - F.col("len_r").cast("double") / F.col("len_c")))
            .alias("bp"),
        )
    )
    bleu = F.when((F.col("k1") == 0) | (F.col("k2") == 0), F.lit(0.0)).otherwise(
        F.col("bp") * F.exp(0.5 * (F.log("p1") + F.log("p2")))
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        round4(davg(F.col("p1"))).alias("avg_p1"),
        round4(davg(F.col("p2"))).alias("avg_p2"),
        round4(davg(bleu)).alias("avg_bleu2"),
    )


@query(
    "llm_embedding_isotropy",
    oracle=f"""
        WITH nv AS (
            SELECT vec_id, embedding,
                   SQRT(list_reduce(list_prepend(0.0,
                       list_transform(list_zip(embedding, embedding),
                                      s -> CAST(s[1] AS DOUBLE) * s[2])),
                       (acc, x) -> acc + x)) AS norm
            FROM embeddings
        ),
        ex AS (
            SELECT GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
                   UNNEST(embedding) AS val,
                   norm
            FROM nv
        ),
        dims AS (
            SELECT dim, {sql_dsum('CAST(val AS DOUBLE) / norm')} AS s_d
            FROM ex GROUP BY dim
        ),
        tot AS (
            SELECT {sql_dsum('s_d * s_d')} AS s2,
                   (SELECT CAST(COUNT(*) AS BIGINT) FROM nv) AS n
            FROM dims
        )
        SELECT n AS n_vecs,
               {sql_round4('s2')} AS centroid_norm_sq,
               {sql_round4('(s2 - n) / (CAST(n AS DOUBLE) * (n - 1))')}
                   AS mean_pairwise_cosine
        FROM tot
    """,
    tags=("llm", "embedding", "audit"),
)
def llm_embedding_isotropy(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding isotropy via the sum-vector identity: for unit-
    normalized vectors, Σᵢ Σⱼ vᵢ·vⱼ = ‖Σv‖², so the mean pairwise
    cosine is (‖Σv‖² − n)/(n(n−1)) — computed in ONE linear pass, no
    O(n²) pair join (contrast ``_cosine_pairs``, which this op exists
    to avoid). High mean cosine is the anisotropy/'narrow cone'
    pathology of contextual embeddings (Ethayarajh 2019) that tanks
    cosine retrieval and motivates centering before ANN indexing
    (``llm_embed_normalize``'s downstream). Per-dim sums come from a
    posexplode + 64-group aggregate — fully distributed, and at 100 TB
    still exactly 64 accumulators of decimal-exact partial sums."""
    em = load_table(spark, sf, "embeddings")
    nv = em.select(
        "vec_id", "embedding",
        F.sqrt(dot("embedding", "embedding")).alias("norm"),
    )
    n = nv.count()
    ex = nv.select(
        F.posexplode("embedding").alias("dim", "val"), F.col("norm")
    ).select("dim", (F.col("val").cast("double") / F.col("norm")).alias("v"))
    dims = ex.groupBy("dim").agg(dsum(F.col("v")).alias("s_d"))
    tot = dims.agg(dsum(F.col("s_d") * F.col("s_d")).alias("s2"))
    return tot.select(
        F.lit(n).cast("bigint").alias("n_vecs"),
        round4(F.col("s2")).alias("centroid_norm_sq"),
        round4(
            (F.col("s2") - F.lit(float(n)))
            / (F.lit(float(n)) * F.lit(float(n - 1)))
        ).alias("mean_pairwise_cosine"),
    )


@query(
    "llm_embed_dim_audit",
    oracle=f"""
        WITH ex AS (
            SELECT GENERATE_SUBSCRIPTS(embedding, 1) AS dim,
                   CAST(UNNEST(embedding) AS DOUBLE) AS val
            FROM embeddings
        ),
        s AS (
            SELECT dim,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   {sql_dsum('val')} AS s1,
                   {sql_dsum('val * val')} AS s2
            FROM ex GROUP BY dim
        )
        SELECT dim,
               {sql_round4('s1 / n')} AS dim_mean,
               {sql_round4('(n * s2 - s1 * s1) / (n * (n - 1.0))')} AS dim_var
        FROM s
        ORDER BY (n * s2 - s1 * s1) / (n * (n - 1.0)) ASC, dim ASC
        LIMIT 8
    """,
    tags=("llm", "embedding", "audit"),
)
def llm_embed_dim_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Per-dimension embedding audit: the 8 lowest-variance dimensions
    with their means — dead or near-constant dims carry no retrieval
    signal but full storage/compute cost, and are the first candidates
    for the Matryoshka/PQ truncations (``llm_embed_matryoshka``,
    ``llm_embed_pq``) this feeds. One posexplode + 64-group aggregate
    of decimal-exact power sums; mean and sample variance are single
    float expressions. The posexplode blow-up (n×64 rows) never
    materializes — it streams straight into the hash aggregate's 64
    accumulators, the same shape at any scale."""
    em = load_table(spark, sf, "embeddings")
    ex = em.select(F.posexplode("embedding").alias("dim0", "val0")).select(
        (F.col("dim0") + 1).alias("dim"), F.col("val0").cast("double").alias("val")
    )
    s = ex.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("val")).alias("s1"),
        dsum(F.col("val") * F.col("val")).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var = (n * s2 - s1 * s1) / (n * (n - 1.0))
    return (
        s.select(
            "dim",
            round4(s1 / n).alias("dim_mean"),
            round4(var).alias("dim_var"),
            var.alias("_v"),
        )
        .orderBy(F.col("_v").asc(), F.col("dim").asc())
        .limit(8)
        .drop("_v")
    )


@query(
    "llm_position_kl",
    oracle=f"""
        WITH firsts AS (
            SELECT STRING_SPLIT(text, ' ')[1] AS tok,
                   CAST(COUNT(*) AS BIGINT) AS n1
            FROM documents GROUP BY 1
        ),
        alltok AS (
            SELECT tok, CAST(COUNT(*) AS BIGINT) AS na
            FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok
                  FROM documents)
            GROUP BY tok
        ),
        vocab AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS v,
                   CAST(SUM(na) AS BIGINT) AS n_all
            FROM alltok
        ),
        tot1 AS (SELECT CAST(SUM(n1) AS BIGINT) AS n_first FROM firsts),
        terms AS (
            SELECT a.tok,
                   (COALESCE(f.n1, 0) + 1.0) / (t1.n_first + v.v) AS p1,
                   (a.na + 1.0) / (v.n_all + v.v) AS pa
            FROM alltok a
            LEFT JOIN firsts f ON a.tok = f.tok
            CROSS JOIN vocab v CROSS JOIN tot1 t1
        )
        SELECT (SELECT v FROM vocab) AS vocab_size,
               (SELECT n_first FROM tot1) AS n_docs,
               {sql_round4(
                   sql_dsum('p1 * LN(p1 / pa) / LN(2.0)')
               )} AS kl_first_vs_all_bits
        FROM terms
    """,
    tags=("llm", "text", "information"),
)
def llm_position_kl(spark: SparkSession, sf: str) -> DataFrame:
    """Positional vocabulary divergence: KL(P_first ‖ P_all) in bits
    between the distribution of document-OPENING tokens and the overall
    token distribution, add-one smoothed over the shared vocabulary —
    near 0 means openings look like body text; large means templated/
    formulaic openings (the information-theoretic scalar behind what
    ``llm_template_prefix`` surfaces as explicit prefixes, usable as a
    single drift metric per crawl snapshot). Two token aggregates (one
    explode for the body profile, a first-element extract for the
    opening profile), a vocab-grain left join, one smoothed-sum reduce
    — all map-side-combinable at 100 TB."""
    d = load_table(spark, sf, "documents")
    firsts = d.select(
        F.split("text", " ")[0].alias("tok")
    ).groupBy("tok").agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    alltok = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("na"))
    )
    vocab = alltok.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("na").cast("bigint").alias("n_all"),
    )
    tot1 = firsts.agg(F.sum("n1").cast("bigint").alias("n_first"))
    terms = (
        alltok.join(firsts, "tok", "left")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(tot1))
        .select(
            (
                (F.coalesce(F.col("n1"), F.lit(0)) + 1.0)
                / (F.col("n_first") + F.col("v"))
            ).alias("p1"),
            ((F.col("na") + 1.0) / (F.col("n_all") + F.col("v"))).alias("pa"),
        )
    )
    # global agg (not groupBy(v, n_first)): v/n_first are constants, so the
    # result is identical on nonempty input — but a global agg still emits
    # its one NULL row over 0 rows, matching the oracle's scalar-subquery
    # shape on an empty corpus (groupBy over 0 rows would emit 0 groups)
    kl = terms.agg(
        round4(
            dsum(F.col("p1") * F.log(F.col("p1") / F.col("pa")) / F.log(F.lit(2.0)))
        ).alias("kl_first_vs_all_bits")
    )
    return vocab.crossJoin(F.broadcast(tot1)).crossJoin(F.broadcast(kl)).select(
        F.col("v").alias("vocab_size"),
        F.col("n_first").alias("n_docs"),
        "kl_first_vs_all_bits",
    )


@query(
    "llm_domain_shift_bits",
    oracle=f"""
        WITH tok AS (
            SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS t
            FROM documents
        ),
        global_lm AS (
            SELECT t, CAST(COUNT(*) AS BIGINT) AS ng FROM tok GROUP BY t
        ),
        gtot AS (
            SELECT CAST(SUM(ng) AS BIGINT) AS n_all,
                   CAST(COUNT(*) AS BIGINT) AS v
            FROM global_lm
        ),
        per_source AS (
            SELECT source, t, CAST(COUNT(*) AS BIGINT) AS ns
            FROM tok GROUP BY source, t
        )
        SELECT p.source,
               CAST(SUM(p.ns) AS BIGINT) AS n_tokens,
               {sql_round4(
                   "-" + sql_dsum(
                       "p.ns * LN((g.ng + 1.0) / (t.n_all + t.v)) / LN(2.0)"
                   ) + " / SUM(p.ns)"
               )} AS cross_entropy_bits
        FROM per_source p
        JOIN global_lm g ON p.t = g.t
        CROSS JOIN gtot t
        GROUP BY p.source
    """,
    tags=("llm", "text", "information"),
)
def llm_domain_shift_bits(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source domain shift measured as cross-entropy (bits/token) of
    each source's text under the CORPUS-WIDE add-one-smoothed unigram
    LM — sources whose tokens the global model finds surprising are the
    out-of-domain feeds (the corpus-curation complement to
    ``llm_perplexity_filter``'s per-document gate, and the per-source
    signal ``llm_dsir_importance`` turns into sampling weights). Two
    token aggregates + a vocab-grain join; the per-source reduce is
    map-side-combinable at any corpus size."""
    d = load_table(spark, sf, "documents")
    tok = d.select("source", F.explode(F.split("text", " ")).alias("t"))
    global_lm = tok.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng")
    )
    gtot = global_lm.agg(
        F.sum("ng").cast("bigint").alias("n_all"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    per_source = tok.groupBy("source", "t").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns")
    )
    j = per_source.join(global_lm, "t").crossJoin(F.broadcast(gtot))
    bits = (
        F.col("ns")
        * F.log((F.col("ng") + 1.0) / (F.col("n_all") + F.col("v")))
        / F.log(F.lit(2.0))
    )
    return j.groupBy("source").agg(
        F.sum("ns").cast("bigint").alias("n_tokens"),
        round4(-dsum(bits) / F.sum("ns")).alias("cross_entropy_bits"),
    )


@query(
    "llm_jsd_lang_pair",
    oracle=f"""
        WITH tok AS (
            SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS t
            FROM documents WHERE lang IN ('en', 'es')
        ),
        counts AS (
            SELECT t,
                   CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ne,
                   CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END)
                        AS BIGINT) AS ns
            FROM tok GROUP BY t
        ),
        tots AS (
            SELECT CAST(SUM(ne) AS BIGINT) AS te,
                   CAST(SUM(ns) AS BIGINT) AS ts,
                   CAST(COUNT(*) AS BIGINT) AS v
            FROM counts
        ),
        probs AS (
            SELECT (c.ne + 1.0) / (t.te + t.v) AS p,
                   (c.ns + 1.0) / (t.ts + t.v) AS q
            FROM counts c CROSS JOIN tots t
        )
        SELECT (SELECT v FROM tots) AS vocab_size,
               {sql_round4(
                   "0.5 * " + sql_dsum(
                       "p * LN(p / ((p + q) / 2.0)) / LN(2.0)"
                   )
                   + " + 0.5 * " + sql_dsum(
                       "q * LN(q / ((p + q) / 2.0)) / LN(2.0)"
                   )
               )} AS jsd_bits
        FROM probs
    """,
    tags=("llm", "text", "information"),
)
def llm_jsd_lang_pair(spark: SparkSession, sf: str) -> DataFrame:
    """Jensen–Shannon divergence (bits) between the en and es token
    distributions, add-one smoothed over the shared vocabulary — the
    SYMMETRIC, bounded-[0,1] corpus-distance that KL is not (KL blows
    up on disjoint support and orders its arguments;
    ``llm_domain_shift_bits`` deliberately uses that asymmetry, this op
    is the distance you can put in a matrix and cluster corpora by,
    √JSD being a true metric). One pivoted token-count aggregate gives
    both distributions in a single pass; the mixture M=(P+Q)/2 is row
    arithmetic; two smoothed sums reduce it. Vocabulary-grain all the
    way — scale-free."""
    d = load_table(spark, sf, "documents")
    tok = d.filter(F.col("lang").isin("en", "es")).select(
        "lang", F.explode(F.split("text", " ")).alias("t")
    )
    counts = tok.groupBy("t").agg(
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("bigint")
        .alias("ne"),
        F.sum(F.when(F.col("lang") == "es", 1).otherwise(0))
        .cast("bigint")
        .alias("ns"),
    )
    tots = counts.agg(
        F.sum("ne").cast("bigint").alias("te"),
        F.sum("ns").cast("bigint").alias("ts"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    probs = counts.crossJoin(F.broadcast(tots)).select(
        ((F.col("ne") + 1.0) / (F.col("te") + F.col("v"))).alias("p"),
        ((F.col("ns") + 1.0) / (F.col("ts") + F.col("v"))).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2.0
    ln2 = F.log(F.lit(2.0))
    # global agg + crossJoin of the 1-row tots frame (not groupBy("v")):
    # same single row on nonempty input, and still one row over an empty
    # corpus, matching the oracle's scalar-subquery shape (cf. llm_position_kl)
    jsd = probs.agg(
        round4(
            0.5 * dsum(F.col("p") * F.log(F.col("p") / m) / ln2)
            + 0.5 * dsum(F.col("q") * F.log(F.col("q") / m) / ln2)
        ).alias("jsd_bits")
    )
    return tots.crossJoin(F.broadcast(jsd)).select(
        F.col("v").alias("vocab_size"), "jsd_bits"
    )


@query(
    "llm_corpus_health",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS t
            FROM documents
        ),
        doc_stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                   CAST(COUNT(DISTINCT md5(text)) AS BIGINT)
                       AS n_unique_texts,
                   CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
            FROM documents
        ),
        tok_stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(COUNT(DISTINCT t) AS BIGINT) AS vocab_size
            FROM tok
        ),
        lang_h AS (
            SELECT -{sql_dsum(
                'CAST(c AS DOUBLE) / tot * LN(CAST(c AS DOUBLE) / tot)'
                ' / LN(2.0)'
            )} AS lang_entropy
            FROM (
                SELECT lang, CAST(COUNT(*) AS BIGINT) AS c,
                       SUM(COUNT(*)) OVER () AS tot
                FROM documents GROUP BY lang
            )
        )
        SELECT d.n_docs,
               d.n_langs,
               t.n_tokens,
               t.vocab_size,
               {sql_round4('CAST(d.total_chars AS DOUBLE) / d.n_docs')}
                   AS avg_doc_chars,
               {sql_round4(
                   '1.0 - CAST(d.n_unique_texts AS DOUBLE) / d.n_docs'
               )} AS exact_dup_rate,
               {sql_round4('CAST(t.vocab_size AS DOUBLE) / t.n_tokens')}
                   AS type_token_ratio,
               {sql_round4('l.lang_entropy')} AS lang_entropy_bits
        FROM doc_stats d CROSS JOIN tok_stats t CROSS JOIN lang_h l
    """,
    tags=("llm", "reporting", "composite"),
)
def llm_corpus_health(spark: SparkSession, sf: str) -> DataFrame:
    """The one-row corpus health card — document and language counts,
    token count, vocabulary size, mean document length, EXACT-duplicate
    rate (md5 distinct over text), corpus type-token ratio, and
    language-mix entropy — the numbers a data-curation standup reads
    before anything trains (``llm_dataset_card`` is the release-time
    sibling; this is the monitoring-time one, cheap enough to run per
    snapshot). Three independent aggregates (doc grain, token grain,
    lang grain) cross-joined as 1-row frames: total cost one text scan
    + one explode, every piece map-side-combinable, and each metric's
    drift between snapshots is an alert wire."""
    d = load_table(spark, sf, "documents")
    tok = d.select("lang", F.explode(F.split("text", " ")).alias("t"))
    doc_stats = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct(F.md5(F.col("text").cast("binary")))
        .cast("bigint")
        .alias("n_unique_texts"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
    )
    tok_stats = tok.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.countDistinct("t").cast("bigint").alias("vocab_size"),
    )
    lang_counts = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    lc_tot = lang_counts.agg(F.sum("c").cast("bigint").alias("tot"))
    share = F.col("c").cast("double") / F.col("tot")
    lang_h = (
        lang_counts.crossJoin(F.broadcast(lc_tot))
        .select((share * F.log(share) / F.log(F.lit(2.0))).alias("term"))
        .agg((-dsum(F.col("term"))).alias("lang_entropy"))
    )
    j = doc_stats.crossJoin(tok_stats).crossJoin(lang_h)
    return j.select(
        "n_docs", "n_langs", "n_tokens", "vocab_size",
        # try_divide: n_docs/n_tokens are 0 on empty input; DuckDB's x/0 is
        # NULL, ANSI Spark's raises — try_divide restores the NULL agreement
        round4(
            F.try_divide(F.col("total_chars").cast("double"), F.col("n_docs"))
        ).alias("avg_doc_chars"),
        round4(
            1.0 - F.try_divide(
                F.col("n_unique_texts").cast("double"), F.col("n_docs")
            )
        ).alias("exact_dup_rate"),
        round4(
            F.try_divide(F.col("vocab_size").cast("double"), F.col("n_tokens"))
        ).alias("type_token_ratio"),
        round4(F.col("lang_entropy")).alias("lang_entropy_bits"),
    )


@query(
    "llm_rouge_pairs",
    oracle=f"""
        -- doc_id is the document identity: physical duplicates collapse
        -- before pairing (LEAD windows and per-doc n-gram grains all
        -- assume the id is a key; matches the Spark side's distinct())
        WITH docs AS (
            SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS toks
            FROM (SELECT DISTINCT doc_id, lang, text FROM documents)
        ),
        paired AS (
            SELECT doc_id AS cand_id,
                   LEAD(doc_id) OVER w AS ref_id,
                   toks AS c,
                   LEAD(toks) OVER w AS r
            FROM docs
            WINDOW w AS (PARTITION BY lang ORDER BY doc_id)
        ),
        live AS (SELECT * FROM paired WHERE ref_id IS NOT NULL),
        big AS (
            SELECT cand_id, ref_id,
                   c, r,
                   [c[i] || ' ' || c[i+1] FOR i IN RANGE(1, LEN(c))] AS c2,
                   [r[i] || ' ' || r[i+1] FOR i IN RANGE(1, LEN(r))] AS r2
            FROM live
        ),
        m AS (
            SELECT cand_id, ref_id,
                   CAST(LEN(c) AS BIGINT) AS len_c,
                   CAST(LEN(r) AS BIGINT) AS len_r,
                   CAST(LIST_SUM([LEAST(LEN(LIST_FILTER(c, x -> x = t)),
                                        LEN(LIST_FILTER(r, x -> x = t)))
                                  FOR t IN LIST_DISTINCT(c)]) AS BIGINT) AS m1,
                   -- COALESCE only covers the EMPTY-bigram case (one-token
                   -- docs): a NULL token array must stay NULL, matching
                   -- Spark's NULL-propagating fold
                   CAST(CASE WHEN c2 IS NULL OR r2 IS NULL THEN NULL
                        ELSE COALESCE(LIST_SUM(
                        [LEAST(LEN(LIST_FILTER(c2, x -> x = t)),
                               LEN(LIST_FILTER(r2, x -> x = t)))
                         FOR t IN LIST_DISTINCT(c2)]), 0) END AS BIGINT) AS m2
            FROM big
        )
        SELECT cand_id, ref_id, len_c, len_r, m1, m2,
               {sql_round4('CAST(m1 AS DOUBLE) / len_r')} AS rouge1_recall,
               {sql_round4('CAST(m1 AS DOUBLE) / len_c')} AS rouge1_precision,
               {sql_round4('CASE WHEN m2 = 0 THEN 0.0 ELSE CAST(m2 AS DOUBLE) / (len_r - 1) END')}
                   AS rouge2_recall
        FROM m
    """,
    tags=("llm", "text", "eval"),
)
def llm_rouge_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """ROUGE-1/2 overlap scores between adjacent same-language documents
    (cand -> next doc as pseudo-reference, the same deterministic pairing
    as ``llm_bleu_pairs``): clipped n-gram matches / reference length
    (recall — ROUGE's defining direction) plus unigram precision.

    Scale shape — deliberately different from BLEU's: the clipped
    multiset intersection is computed ARRAY-LOCALLY per pair
    (Σ_t min(cnt_c(t), cnt_r(t)) as a fold over the candidate's distinct
    tokens), so after the one pairing window there is NO n-gram explode,
    no n-gram join, and no shuffle at all — O(u·len) work per row with u
    = distinct tokens. For fixture-sized docs this beats the
    explode-join; for book-length documents the explode-join (BLEU's
    shape) wins — the pair of ops documents the crossover."""
    d = load_table(spark, sf, "documents")
    # distinct first: doc_id is the document identity and every grain
    # below (pairing window, per-doc n-gram tables) assumes it is a key
    docs = (
        d.select("doc_id", "lang", "text")
        .distinct()
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
    )
    from pyspark.sql.window import Window as W_

    w = W_.partitionBy("lang").orderBy("doc_id")
    paired = docs.select(
        F.col("doc_id").alias("cand_id"),
        F.lead("doc_id").over(w).alias("ref_id"),
        F.col("toks").alias("c"),
        F.lead("toks").over(w).alias("r"),
    ).filter(F.col("ref_id").isNotNull())
    # The pairing window leaves the data in ONE partition per language —
    # a handful of tasks at ANY corpus size — and everything downstream
    # is the expensive part: O(u·len) clipped-intersection folds per
    # pair. One hash repartition on the pair key fans those folds across
    # the cores (guide §2.6 idle capacity), sized to the documents' rows
    # in the ``vector`` class; each fold is row-local, so values are
    # identical under any partitioning.
    paired = paired.repartition(
        task_count(spark, _scan_meta(sf, "documents")[1], "vector"), "cand_id"
    )
    # zip_with over offset slices, not sequence(1, size-1): for a
    # single-token doc the sequence form yields a DESCENDING [1,0] and an
    # out-of-bounds index (ANSI error); slice(_, 2, 0) is just empty
    bigrams = (
        "zip_with(slice({a}, 1, size({a}) - 1), slice({a}, 2, size({a}) - 1),"
        " (x, y) -> concat(x, ' ', y))"
    )
    big = paired.select(
        "cand_id", "ref_id", "c", "r",
        F.expr(bigrams.format(a="c")).alias("c2"),
        F.expr(bigrams.format(a="r")).alias("r2"),
    )
    clip = (
        "aggregate(array_distinct({c}), 0L, (acc, t) -> acc +"
        " least(size(filter({c}, x -> x = t)), size(filter({r}, x -> x = t))))"
    )
    m = big.select(
        "cand_id", "ref_id",
        F.size("c").cast("bigint").alias("len_c"),
        F.size("r").cast("bigint").alias("len_r"),
        F.expr(clip.format(c="c", r="r")).cast("bigint").alias("m1"),
        F.expr(clip.format(c="c2", r="r2")).cast("bigint").alias("m2"),
    )
    m1d, m2d = F.col("m1").cast("double"), F.col("m2").cast("double")
    return m.select(
        "cand_id", "ref_id", "len_c", "len_r", "m1", "m2",
        round4(m1d / F.col("len_r")).alias("rouge1_recall"),
        round4(m1d / F.col("len_c")).alias("rouge1_precision"),
        round4(
            F.when(F.col("m2") == 0, F.lit(0.0)).otherwise(m2d / (F.col("len_r") - 1))
        ).alias("rouge2_recall"),
    )


_RAKE_STOPWORDS = "('the','a','an','and','or','of','in','on','to','is','are','was','for','with','as','by','at','it','this','that')"


@query(
    "llm_keyword_rake",
    oracle=f"""
        WITH tok AS (
            SELECT doc_id,
                   GENERATE_SUBSCRIPTS(STRING_SPLIT(LOWER(text), ' '), 1) AS pos,
                   UNNEST(STRING_SPLIT(LOWER(text), ' ')) AS w
            FROM documents
        ),
        marked AS (
            SELECT doc_id, pos, w,
                   CASE WHEN w IN {_RAKE_STOPWORDS} THEN 1 ELSE 0 END AS is_stop
            FROM tok
        ),
        numbered AS (
            SELECT doc_id, pos, w, is_stop,
                   SUM(is_stop) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS phrase_id
            FROM marked
        ),
        phrased AS (
            SELECT doc_id, pos, w, phrase_id FROM numbered WHERE is_stop = 0
        ),
        plen AS (
            SELECT doc_id, phrase_id,
                   CAST(COUNT(*) AS BIGINT) AS phrase_len
            FROM phrased GROUP BY doc_id, phrase_id
        ),
        scored AS (
            SELECT p.doc_id, p.w,
                   CAST(COUNT(*) AS BIGINT) AS freq,
                   CAST(SUM(l.phrase_len) AS BIGINT) AS degree
            FROM phrased p
            JOIN plen l ON p.doc_id = l.doc_id AND p.phrase_id = l.phrase_id
            GROUP BY p.doc_id, p.w
        )
        SELECT doc_id, w AS keyword, freq, degree,
               FLOOR(CAST(degree AS DOUBLE) / freq * 10000.0 + 0.5) / 10000.0
                   AS rake_score,
               CAST(rnk AS INT) AS rnk
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY doc_id
                ORDER BY CAST(degree AS DOUBLE) / freq DESC, w) AS rnk
            FROM scored
        ) r WHERE rnk <= 3
    """,
    tags=("llm", "text", "keywords"),
)
def llm_keyword_rake(spark: SparkSession, sf: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al.), relationally: stopwords
    split each document into candidate phrases (the phrase id is a
    running count of stopword boundaries — one ordered window per doc),
    every content word scores degree(w)/freq(w) where degree sums the
    lengths of phrases containing w, and the top-3 words per doc emerge
    from a rank window. Two doc-keyed aggregations + two windows, all
    partitioned by doc_id — embarrassingly parallel at corpus scale, no
    vocabulary table, no IDF pass (that trade is ``llm_tfidf``'s side:
    RAKE is corpus-free, TF-IDF is corpus-calibrated)."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "w")
    )
    stops = [s.strip("'") for s in _RAKE_STOPWORDS.strip("()").split(",")]
    marked = tok.select(
        "doc_id", "pos", "w",
        F.when(F.col("w").isin(stops), 1).otherwise(0).alias("is_stop"),
    )
    wseq = W.partitionBy("doc_id").orderBy("pos").rowsBetween(W.unboundedPreceding, W.currentRow)
    phrased = (
        marked.withColumn("phrase_id", F.sum("is_stop").over(wseq))
        .filter(F.col("is_stop") == 0)
        .select("doc_id", "pos", "w", "phrase_id")
    )
    plen = phrased.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("phrase_len")
    )
    scored = (
        phrased.join(plen, ["doc_id", "phrase_id"])
        .groupBy("doc_id", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("phrase_len").cast("bigint").alias("degree"),
        )
    )
    score = F.col("degree").cast("double") / F.col("freq")
    wr = W.partitionBy("doc_id").orderBy(F.desc(score), F.asc("w"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            "doc_id",
            F.col("w").alias("keyword"),
            "freq",
            "degree",
            round4(score).alias("rake_score"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )
