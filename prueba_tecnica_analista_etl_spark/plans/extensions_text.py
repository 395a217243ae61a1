"""Oracle-checked extension queries: text analysis + similarity search
over the ``documents``/``embeddings`` tables (north-star training-data
operators — exact dedup, token stats, quality scoring, language-ID,
fingerprinting, brute-force cosine top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prueba_tecnica_analista_etl_spark.artifacts import census_artifact
from prueba_tecnica_analista_etl_spark.functions.text import (
    NON_ASCII_RE,
    STOPWORDS,
    fingerprint,
    n_tokens,
    nfc_normalize,
    predict_lang,
    stopword_hits,
    tokens,
)
from prueba_tecnica_analista_etl_spark.operators.dedupe import keep_first
from prueba_tecnica_analista_etl_spark.operators.similarity import (
    cosine_topk_batch,
)
from prueba_tecnica_analista_etl_spark.plans.queries import Shape, query
from prueba_tecnica_analista_etl_spark.sources.tables import _t, spread
from prueba_tecnica_analista_etl_spark.stages.text import (
    BM25_QUERY_TERMS,
    _bm25_per_doc_frame,
    _winnow_fp_frame,
    doc_term_tf_frame,
)
from prueba_tecnica_analista_etl_spark.stages.vectors import similarity_topk


@query(
    "q_exact_dedup",
    """
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
      FROM documents) WHERE rn = 1
    """,
    doc="Exact-content dedup: the min doc_id survivor per identical text.",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # At 100 TB group on md5(text) instead of the raw text to shrink the
    # shuffle keys.
    d = _t(spark, sf_dir, "documents")
    return keep_first(d, ["text"], [F.asc("doc_id")]).select("doc_id", "lang")


_BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@query(
    "q_token_count",
    f"""
    SELECT source, count(*) AS docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
           round(avg(len(string_split(text, ' '))), 2) AS avg_tokens,
           CAST(sum(len(regexp_extract_all(text, '{_BPE_PATTERN}')))
                AS BIGINT) AS bpe_tokens,
           round(avg(len(regexp_extract_all(text, '{_BPE_PATTERN}'))), 2)
             AS avg_bpe_tokens
    FROM documents GROUP BY source
    """,
    doc="Whitespace and BPE-style pre-tokenizer token counts per source.",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The RE2-compatible pattern evaluates identically in Spark (Java
    # regex) and DuckDB.
    d = _t(spark, sf_dir, "documents")
    nt = n_tokens(F.col("text"))
    nb = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(_BPE_PATTERN), F.lit(0))
    ).cast("long")
    return (
        d.select("source", nt.alias("nt"), nb.alias("nb"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("nt").cast("long").alias("total_tokens"),
            F.round(F.avg("nt"), 2).alias("avg_tokens"),
            F.sum("nb").cast("long").alias("bpe_tokens"),
            F.round(F.avg("nb"), 2).alias("avg_bpe_tokens"),
        )
    )


_PHONE_RE = "[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"


@query(
    "q_pii_scrub",
    f"""
    SELECT c_mktsegment, count(*) AS docs,
           CAST(sum(CASE WHEN n_p + n_e > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_pii,
           CAST(sum(n_p) AS BIGINT) AS phones_found,
           CAST(sum(n_e) AS BIGINT) AS emails_found,
           CAST(sum(len(scrubbed)) AS BIGINT) AS scrubbed_chars
    FROM (
      SELECT c_mktsegment,
             len(regexp_extract_all(card, '{_PHONE_RE}')) AS n_p,
             len(regexp_extract_all(card, '{_EMAIL_RE}')) AS n_e,
             regexp_replace(
               regexp_replace(card, '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_EMAIL_RE}', '<EMAIL>', 'g') AS scrubbed
      FROM (
        SELECT c_mktsegment,
               concat_ws(' ', c_name,
                 CASE WHEN c_custkey % 3 = 0
                      THEN printf('%02d-%03d-%03d-%04d',
                                  c_custkey % 90 + 10,
                                  c_custkey % 900 + 100,
                                  (c_custkey * 7) % 900 + 100,
                                  (c_custkey * 13) % 9000 + 1000)
                      ELSE 'phone unavailable' END,
                 CASE WHEN c_custkey % 5 = 0
                      THEN concat('user', CAST(c_custkey AS VARCHAR),
                                  '@example.com')
                      ELSE 'mail unavailable' END) AS card
        FROM customer))
    GROUP BY c_mktsegment
    """,
    doc="Phone and email matches and scrubbed text in planted customer contact cards.",
    shape=Shape(max_exchanges=1),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The testdata has no PII columns, so the contact card plants phones
    # (every 3rd customer) and emails (every 5th) in both engines. DuckDB's
    # regexp_replace needs the 'g' flag to match Spark's replace-all.
    c = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    phone = F.format_string(
        "%02d-%03d-%03d-%04d",
        k % 90 + 10,
        k % 900 + 100,
        (k * 7) % 900 + 100,
        (k * 13) % 9000 + 1000,
    )
    email = F.concat(
        F.lit("user"), k.cast("string"), F.lit("@example.com")
    )
    card = F.concat_ws(
        " ",
        F.col("c_name"),
        F.when(k % 3 == 0, phone).otherwise(F.lit("phone unavailable")),
        F.when(k % 5 == 0, email).otherwise(F.lit("mail unavailable")),
    )
    d = c.select(
        "c_mktsegment",
        F.size(
            F.regexp_extract_all(card, F.lit(_PHONE_RE), F.lit(0))
        ).cast("long").alias("n_p"),
        F.size(
            F.regexp_extract_all(card, F.lit(_EMAIL_RE), F.lit(0))
        ).cast("long").alias("n_e"),
        F.regexp_replace(
            F.regexp_replace(card, _PHONE_RE, "<PHONE>"),
            _EMAIL_RE,
            "<EMAIL>",
        ).alias("scrubbed"),
    )
    return d.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum((F.col("n_p") + F.col("n_e") > 0).cast("long")).alias(
            "docs_with_pii"
        ),
        F.sum("n_p").alias("phones_found"),
        F.sum("n_e").alias("emails_found"),
        F.sum(F.length("scrubbed")).alias("scrubbed_chars"),
    )


@query(
    "q_quality_score",
    """
    SELECT quality, count(*) AS docs, round(avg(nt), 2) AS avg_tokens
    FROM (
      SELECT CASE WHEN nt >= 50 AND stop_hits >= 5 THEN 'high'
                  WHEN nt >= 20 THEN 'medium'
                  ELSE 'low' END AS quality, nt
      FROM (
        SELECT len(string_split(text, ' ')) AS nt,
               len(list_filter(string_split(lower(text), ' '),
                   t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS stop_hits
        FROM documents))
    GROUP BY quality
    """,
    doc="Doc census by length and stopword-ratio quality bucket.",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    nt = F.size(F.split(F.col("text"), " ")).cast("long")
    hits = stopword_hits(toks, STOPWORDS["en"])
    quality = (
        F.when((nt >= 50) & (hits >= 5), F.lit("high"))
        .when(nt >= 20, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return (
        d.select(quality.alias("quality"), nt.alias("nt"))
        .groupBy("quality")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.round(F.avg("nt"), 2).alias("avg_tokens"),
        )
    )


_LANG_CASE = (
    "CASE "
    + " ".join(
        f"WHEN {lang}_hits = best AND best > 0 THEN '{lang}'"
        for lang in sorted(STOPWORDS)
    )
    + " ELSE 'unknown' END"
)

_LANG_HITS = ", ".join(
    "len(list_filter(toks, t -> t IN ({}))) AS {}_hits".format(
        ", ".join(f"'{w}'" for w in ws), lang
    )
    for lang, ws in STOPWORDS.items()
)


@query(
    "q_lang_id",
    f"""
    SELECT lang, predicted, count(*) AS docs FROM (
      SELECT lang, {_LANG_CASE} AS predicted FROM (
        SELECT lang, {_LANG_HITS},
               greatest(de_hits, en_hits, es_hits, fr_hits) AS best
        FROM (SELECT lang, string_split(lower(text), ' ') AS toks
              FROM documents)))
    GROUP BY lang, predicted
    """,
    doc="Language-ID confusion census from stopword hits with a deterministic tie-break.",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # no spread(): predict_lang is a handful of array ops per
    # row feeding a map-side census agg — the repartition cost more
    # than the compute it spread (A/B: 0.65 -> 0.58 s). Contrast
    # q_doc_fingerprint just below, where ~50 md5s/row make the
    # spread a measured 6x WIN — kept there.
    d = _t(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return (
        d.select("lang", predict_lang(toks).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("docs"))
    )


@query(
    "q_doc_fingerprint",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
               FROM documents),
         s AS (SELECT doc_id, toks,
                      unnest(generate_series(1, greatest(len(toks) - 4, 1)))
                        AS i
               FROM t)
    SELECT doc_id, min(md5(array_to_string(toks[i:i+4], ' '))) AS fp
    FROM s GROUP BY doc_id
    """,
    doc="Per-doc fingerprint: the min md5 over its 5-token shingles.",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(_t(spark, sf_dir, "documents"))
    return d.select("doc_id", fingerprint(F.col("text")).alias("fp"))


@query(
    "q_similarity_topk",
    """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id = 0)
    SELECT vec_id,
           round(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
                 / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                          CAST(embedding AS DOUBLE[])))
                    * sqrt(list_dot_product(qv, qv))), 4) AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    doc="Brute-force cosine top-k neighbors of one query vector.",
    shape=Shape(has=("TakeOrderedAndProject",), max_exchanges=1),
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity_topk(spark, sf_dir)


@query(
    "q_winnow_fingerprint",
    """
    WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
               FROM documents),
         idx AS (SELECT doc_id, toks,
                        greatest(len(toks) - 2, 1) AS n_sh,
                        unnest(range(1, greatest(len(toks) - 2, 1) + 1))
                          AS i
                 FROM t),
         sh AS (SELECT doc_id, i, n_sh,
                       md5(array_to_string(list_slice(toks, i, i + 2),
                                           ' ')) AS h
                FROM idx),
         win AS (SELECT doc_id, i, n_sh,
                        min(h) OVER (PARTITION BY doc_id ORDER BY i
                                     ROWS BETWEEN CURRENT ROW
                                     AND 3 FOLLOWING) AS fp
                 FROM sh)
    SELECT doc_id, count(DISTINCT fp) AS n_fp, min(fp) AS min_fp
    FROM win WHERE i <= greatest(n_sh - 3, 1)
    GROUP BY doc_id
    """,
    doc="Winnowing fingerprints: distinct minima of each 4-window of md5 3-shingle hashes.",
    shape=Shape(max_exchanges=0),
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _winnow_fp_frame(spark, sf_dir).select(
        "doc_id",
        F.size("fps").cast("long").alias("n_fp"),
        F.array_min("fps").alias("min_fp"),
    )


@query(
    "q_ann_batch",
    """
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
               FROM embeddings WHERE vec_id < 8)
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT q.q_id, e.vec_id,
             round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                   / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])))
                      * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cos_sim,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)
                        / (sqrt(list_dot_product(
                             CAST(e.embedding AS DOUBLE[]),
                             CAST(e.embedding AS DOUBLE[])))
                           * sqrt(list_dot_product(q.qv, q.qv))) DESC,
                        e.vec_id) AS rn
      FROM embeddings e, q
      WHERE e.vec_id <> q.q_id
    ) WHERE rn <= 3
    """,
    doc="Top-3 cosine neighbors of each of 8 query vectors.",
    shape=Shape(has=("WindowGroupLimit",)),
)
def q_ann_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    return cosine_topk_batch(e, q, k=3)


@query(
    "q_unicode_normalize",
    """
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN regexp_matches(text, '[^\\x00-\\x7F]')
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nonascii,
           CAST(sum(CASE WHEN nfc_normalize(text) <> text
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
           CAST(coalesce(sum(length(text)
                             - length(nfc_normalize(text))), 0)
                AS BIGINT) AS chars_saved
    FROM documents GROUP BY lang ORDER BY lang
    """,
    doc="Per-language non-ASCII docs, docs changed by NFC, and codepoints saved.",
    shape=Shape(has=("ArrowEvalPython",)),
)
def q_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").select("lang", "text")
    needs = F.coalesce(F.col("text").rlike(NON_ASCII_RE), F.lit(False))
    # spread() only the non-ASCII sliver: Catalyst pushes the
    # rlike filter BELOW a repartition, so spreading the whole frame
    # bought nothing for the regex (it runs scan-side either way) while
    # round-robin-shuffling the ASCII MAJORITY whose remaining work is
    # a literal projection + map-side partial aggregate. Now only the
    # rows that actually cross into the Python normalizer pay a
    # (sliver-sized) repartition for Arrow-stage width. Plan: the
    # ASCII branch's full-corpus Exchange is gone (2 -> 1 round-robin
    # exchanges, the survivor carrying only the non-ASCII rows).
    ascii_rows = d.filter(~needs).select(
        "lang",
        F.lit(0).cast("long").alias("nonascii"),
        F.lit(0).cast("long").alias("changed"),
        F.lit(0).cast("long").alias("saved"),
    )
    norm = nfc_normalize(F.col("text"))
    uni_rows = spread(d.filter(needs)).select(
        "lang",
        F.lit(1).cast("long").alias("nonascii"),
        (norm != F.col("text")).cast("long").alias("changed"),
        (F.length("text") - F.length(norm)).cast("long").alias("saved"),
    )
    return (
        ascii_rows.unionByName(uni_rows)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nonascii").alias("n_nonascii"),
            F.sum("changed").alias("n_changed"),
            F.sum("saved").alias("chars_saved"),
        )
        .orderBy("lang")
    )


@query(
    "q_knn_classify",
    """
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
                      label AS true_label
               FROM embeddings WHERE vec_id < 10),
    nn AS (
      SELECT q_id, true_label, label FROM (
        SELECT q.q_id, q.true_label, e.label,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                           q.qv)
                          / (sqrt(list_dot_product(
                               CAST(e.embedding AS DOUBLE[]),
                               CAST(e.embedding AS DOUBLE[])))
                             * sqrt(list_dot_product(q.qv, q.qv)))
                          DESC,
                          e.vec_id) AS rn
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
      ) WHERE rn <= 10),
    votes AS (SELECT q_id, true_label, label,
                     CAST(count(*) AS BIGINT) AS n_votes
              FROM nn GROUP BY q_id, true_label, label),
    pick AS (SELECT q_id, true_label, label AS pred_label, n_votes,
                    row_number() OVER (
                      PARTITION BY q_id
                      ORDER BY n_votes DESC, label) AS vr
             FROM votes)
    SELECT q_id, true_label, pred_label, n_votes,
           CAST(pred_label = true_label AS BIGINT) AS correct
    FROM pick WHERE vr = 1
    ORDER BY q_id
    """,
    doc="kNN label vote of 10 probe vectors over their 10 nearest labeled neighbors.",
    shape=Shape(has=("WindowGroupLimit",)),
)
def q_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    # label rides THROUGH the top-k (carry_cols) instead of a
    # join-back — the join form re-read the full corpus a second
    # time (plan-visible: 4 embeddings scans vs 3); the probe's OWN
    # label rides the broadcast query frame (query_carry_cols),
    # which drops the third corpus access + truth join-back (3 -> 2
    # embeddings scans).
    nn = cosine_topk_batch(
        e,
        q,
        k=10,
        carry_cols=("label",),
        query_carry_cols=("true_label",),
    )
    votes = nn.groupBy("q_id", "true_label", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    vr = Window.partitionBy("q_id").orderBy(
        F.desc("n_votes"), F.asc("label")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(vr))
        .filter(F.col("vr") == 1)
        .select(
            "q_id",
            "true_label",
            F.col("label").alias("pred_label"),
            "n_votes",
        )
    )
    return (
        pred.select(
            "q_id",
            "true_label",
            "pred_label",
            "n_votes",
            (F.col("pred_label") == F.col("true_label"))
            .cast("bigint")
            .alias("correct"),
        )
        .orderBy("q_id")
    )


# nDCG@10 position weights on the 1e6 fixed-point grid: w_r =
# round(1e6 / log2(r+1)) for rank r = 1..10, plus their prefix sums
# (IDCG of an ideal list with n relevant docs = NDCG_PW[n]). Python
# floats here are build-time LITERALS interpolated into BOTH the
# engine expression and the generated oracle SQL, so the runtime
# arithmetic is pure integers — bit-identical across engines.
import math as _math

NDCG_K = 10
NDCG_W = [
    int(round(1e6 / _math.log2(r + 1))) for r in range(1, NDCG_K + 1)
]
NDCG_PW = [sum(NDCG_W[:i]) for i in range(NDCG_K + 1)]  # PW[0] = 0


def _ndcg_oracle_sql() -> str:
    w_case = " ".join(
        f"WHEN {r + 1} THEN {w}" for r, w in enumerate(NDCG_W)
    )
    pw_case = " ".join(
        f"WHEN {n} THEN {pw}" for n, pw in enumerate(NDCG_PW)
    )
    cos = (
        "list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv)"
        " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
        " CAST(e.embedding AS DOUBLE[])))"
        " * sqrt(list_dot_product(q.qv, q.qv)))"
    )
    return f"""
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv,
                      label AS true_label
               FROM embeddings WHERE vec_id < 10),
    nn AS (
      SELECT q_id, true_label, label, rn FROM (
        SELECT q.q_id, q.true_label, e.label,
               row_number() OVER (
                 PARTITION BY q.q_id
                 ORDER BY {cos} DESC, e.vec_id) AS rn
        FROM embeddings e, q
        WHERE e.vec_id <> q.q_id
      ) WHERE rn <= {NDCG_K}),
    per AS (SELECT q_id, true_label,
                   CAST(sum(CASE WHEN label = true_label THEN 1 ELSE 0
                            END) AS BIGINT) AS n_rel_at_k,
                   CAST(sum(CASE WHEN label = true_label
                            THEN CASE rn {w_case} END ELSE 0 END)
                        AS BIGINT) AS dcg_e6
            FROM nn GROUP BY q_id, true_label),
    lc AS (SELECT label, CAST(count(*) AS BIGINT) AS n
           FROM embeddings GROUP BY label),
    fin AS (SELECT p.q_id, p.true_label, p.n_rel_at_k, p.dcg_e6,
                    lc.n - 1 AS n_rel_corpus,
                    CAST(CASE least(lc.n - 1, {NDCG_K}) {pw_case} END
                         AS BIGINT) AS idcg_e6
             FROM per p JOIN lc ON lc.label = p.true_label)
    SELECT q_id, true_label, n_rel_at_k, n_rel_corpus, dcg_e6, idcg_e6,
           CAST(CASE WHEN idcg_e6 = 0 THEN 0
                ELSE CAST(dcg_e6 AS HUGEINT) * 1000000 // idcg_e6
                END AS BIGINT) AS ndcg_e6
    FROM fin ORDER BY q_id
    """


@query(
    "q_eval_ndcg",
    _ndcg_oracle_sql(),
    doc="nDCG@10 per probe vector over the labeled embedding corpus.",
    shape=Shape(has=("WindowGroupLimit",)),
)
def q_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    # the probe's own label rides the broadcast query frame
    # (query_carry_cols) instead of a third corpus access +
    # truth join-back: 3 -> 2 embeddings scans.
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    nn = cosine_topk_batch(
        e,
        q,
        k=NDCG_K,
        carry_cols=("label",),
        query_carry_cols=("true_label",),
        rank_col="rank",
    )
    rel = (F.col("label") == F.col("true_label")).cast("long")
    w_arr = F.array(*[F.lit(w) for w in NDCG_W])
    per = nn.groupBy("q_id", "true_label").agg(
        F.sum(rel).alias("n_rel_at_k"),
        F.sum(rel * F.element_at(w_arr, F.col("rank")))
        .cast("long")
        .alias("dcg_e6"),
    )
    # The per-label corpus count is a vocabulary-sized census, staged
    # per corpus and joined as a broadcast local relation, so it adds
    # no third embeddings scan. NULL-label census rows are skipped
    # (the join could never match them), and the inner join drops a
    # probe with a NULL true_label.
    lc = census_artifact(
        spark,
        sf_dir,
        "embed_label_census",
        lambda: sorted(
            (r["label"], r["n"])
            for r in e.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
            if r["label"] is not None
        ),
    )
    label_t = e.schema["label"].dataType.simpleString()
    counts = spark.createDataFrame(lc, f"true_label {label_t}, n long")
    pw_arr = F.array(*[F.lit(pw) for pw in NDCG_PW])
    full = per.join(F.broadcast(counts), "true_label").select(
        "q_id",
        "true_label",
        "n_rel_at_k",
        (F.col("n") - 1).alias("n_rel_corpus"),
        "dcg_e6",
        # element_at is 1-based: PW[n] lives at position n+1
        F.element_at(
            pw_arr,
            F.least(F.col("n") - 1, F.lit(NDCG_K)).cast("int")
            + F.lit(1),
        )
        .cast("long")
        .alias("idcg_e6"),
    )
    return full.select(
        "q_id",
        "true_label",
        "n_rel_at_k",
        "n_rel_corpus",
        "dcg_e6",
        "idcg_e6",
        F.when(F.col("idcg_e6") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST(dcg_e6 AS DECIMAL(38,0)) * 1000000 div idcg_e6"
            )
        )
        .alias("ndcg_e6"),
    ).orderBy("q_id")


TOKEN_HIST_TOP = 15


@query(
    "q_token_histogram",
    f"""
    WITH toks AS (SELECT unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
         t AS (SELECT term FROM toks WHERE term <> ''),
         tf AS (SELECT term, CAST(count(*) AS BIGINT) AS tf
                FROM t GROUP BY term),
         tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total_tf FROM tf),
         top AS (SELECT term, tf FROM tf
                 ORDER BY tf DESC, term LIMIT {TOKEN_HIST_TOP})
    SELECT term, tf,
           CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT)
             AS rnk,
           CAST(sum(tf) OVER (ORDER BY tf DESC, term
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tf,
           tot.total_tf
    FROM top CROSS JOIN tot
    """,
    doc="Top terms by frequency with rank, cumulative frequency and the corpus total.",
    shape=Shape(has=("TakeOrderedAndProject",)),
)
def q_token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Term census folded from the staged doc_term_tf artifact:
    # sum of per-doc tfs == the raw token-stream count.
    # The k survivors collapse into one sorted array row; rank and cumsum
    # are array arithmetic over it (the oracle uses the window form).
    tf = (
        doc_term_tf_frame(spark, sf_dir)
        .groupBy("term")
        .agg(F.sum("tf").cast("long").alias("tf"))
    )
    total = tf.agg(F.sum("tf").cast("long").alias("total_tf"))
    top = tf.orderBy(F.desc("tf"), F.asc("term")).limit(
        TOKEN_HIST_TOP
    )
    packed = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    (-F.col("tf")).alias("ntf"), F.col("term")
                )
            )
        ).alias("top")
    )
    return (
        packed.crossJoin(F.broadcast(total))
        .select(
            "top",
            "total_tf",
            F.posexplode("top").alias("i", "e"),
        )
        .select(
            F.col("e.term").alias("term"),
            (-F.col("e.ntf")).alias("tf"),
            (F.col("i") + 1).cast("long").alias("rnk"),
            F.expr(
                "CAST(aggregate(slice(top, 1, i + 1), 0L,"
                " (a, x) -> a - x.ntf) AS BIGINT)"
            ).alias("cum_tf"),
            "total_tf",
        )
    )


# One source of truth for the oracle's IN-lists (the TOKEN_HIST_TOP
# pattern): editing BM25_QUERY_TERMS updates both engines together.
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)


@query(
    "q_bm25",
    f"""
    WITH toks AS (SELECT doc_id, source,
                         unnest(string_split(lower(text), ' ')) AS term
                  FROM documents),
         t AS (SELECT * FROM toks WHERE term <> ''),
         dl AS (SELECT doc_id, source, CAST(count(*) AS BIGINT) AS dl
                FROM t GROUP BY doc_id, source),
         sc AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(dl) AS BIGINT) AS t_tokens FROM dl),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM t WHERE term IN ({_BM25_TERMS_SQL})
                GROUP BY doc_id, term),
         dfq AS (SELECT term,
                        CAST(count(DISTINCT doc_id) AS BIGINT) AS df
                 FROM t WHERE term IN ({_BM25_TERMS_SQL})
                 GROUP BY term),
         contrib AS (
           SELECT tf.doc_id, dl.source,
                  CAST((CAST(floor(ln(CAST(2 * sc.n_docs + 2 AS DOUBLE)
                                      / (2 * dfq.df + 1))
                                   * 1000000 + 0.5) AS HUGEINT)
                        * 22 * tf.tf * sc.t_tokens)
                       // CAST(10 * tf.tf * sc.t_tokens
                               + 3 * sc.t_tokens
                               + 9 * dl.dl * sc.n_docs AS HUGEINT)
                       AS BIGINT) AS c
           FROM tf JOIN dfq USING (term)
                   JOIN dl ON tf.doc_id = dl.doc_id
                   CROSS JOIN sc)
    SELECT doc_id, source, CAST(sum(c) AS BIGINT) AS score_micro
    FROM contrib GROUP BY doc_id, source
    ORDER BY score_micro DESC, doc_id LIMIT 10
    """,
    doc="Top-10 docs by BM25 for a fixed query term set, in exact integer arithmetic.",
    shape=Shape(has=("TakeOrderedAndProject",), max_exchanges=2),
)
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The oracle's CTE chain (corpus explode -> dl/tf/df aggregates ->
    # 3-way join) is the textbook BM25 plan — and at cluster scale its
    # cost center is the doc-keyed shuffle joining tf back to dl. For
    # a FIXED query-term set none of that is necessary: every per-doc
    # quantity (dl, and tf of each query term) is computable IN-ROW
    # from the token array, so scoring is map-only and the only data
    # that crosses the wire is the ONE-ROW census (n_docs, t_tokens,
    # per-term df — partial-agged booleans/sums) broadcast back. Two
    # corpus scans (census + scoring), ZERO corpus shuffles, top-10
    # via TakeOrderedAndProject. Values identical to the oracle's
    # exploded form: size() counts exactly the non-empty tokens,
    # zero-token docs drop from the census as the explode drops them,
    # and docs containing no query term are excluded (the inner tf
    # join's semantics) by an explicit exists() filter.
    per_doc = _bm25_per_doc_frame(spark, sf_dir)
    census = per_doc.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("t_tokens"),
        *[
            F.count_if(F.col(f"tf_{i}") > 0).cast("long").alias(f"df_{i}")
            for i in range(len(BM25_QUERY_TERMS))
        ],
    )
    # Per-term contribution: idf on the 1e-6 integer grid (ONE libm ln
    # per term, computed from census scalars — identical expression to
    # the oracle's), saturation multiplied through into the exact
    # all-integer form; DECIMAL(38,0) numerator because idf6*22*tf*T
    # overflows int64 near tf*T ~ 2e10 (Spark's `div` stays an exact
    # integral divide and matches DuckDB's HUGEINT `//` past 2^63).
    contribs = [
        F.when(
            F.col(f"tf_{i}") > 0,
            F.expr(
                f"(CAST(CAST(floor(ln(CAST(2 * n_docs + 2 AS DOUBLE)"
                f" / (2 * df_{i} + 1)) * 1000000 + 0.5) AS BIGINT)"
                f" AS DECIMAL(38,0)) * 22 * tf_{i} * t_tokens)"
                f" div (10 * tf_{i} * t_tokens + 3 * t_tokens"
                f"  + 9 * dl * n_docs)"
            ),
        ).otherwise(F.lit(0))
        for i in range(len(BM25_QUERY_TERMS))
    ]
    total = contribs[0]
    for c in contribs[1:]:
        total = total + c
    matched = None
    for i in range(len(BM25_QUERY_TERMS)):
        cond = F.col(f"tf_{i}") > 0
        matched = cond if matched is None else (matched | cond)
    return (
        per_doc.crossJoin(F.broadcast(census))
        .filter(matched)
        .select(
            "doc_id",
            "source",
            total.cast("long").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(10)
    )


BPE_PAIRS_TOP = 30


@query(
    "q_bpe_pairs",
    f"""
    WITH words AS (SELECT unnest(string_split(lower(text), ' ')) AS w
                   FROM documents),
         wf AS (SELECT w, CAST(count(*) AS BIGINT) AS tf
                FROM words WHERE length(w) >= 2 GROUP BY w),
         idx AS (SELECT w, tf,
                        unnest(generate_series(1, length(w) - 1)) AS i
                 FROM wf),
         pairs AS (SELECT substr(w, CAST(i AS INTEGER), 2) AS pair, tf
                   FROM idx)
    SELECT pair, CAST(sum(tf) AS BIGINT) AS freq
    FROM pairs GROUP BY pair
    ORDER BY freq DESC, pair LIMIT {BPE_PAIRS_TOP}
    """,
    doc="Top adjacent character pairs over the tf-weighted vocabulary (first BPE merge).",
    shape=Shape(has=("TakeOrderedAndProject", "doc_term_tf-")),
)
def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent character-pair frequency census (BPE merge step 1).

    A BPE tokenizer build's inner loop asks: which adjacent symbol
    pair is most frequent, weighted by word frequency? The naive plan
    explodes pairs over EVERY corpus token — O(corpus tokens x
    word-length) generated rows. Production trainers
    (SentencePiece/HF) instead count words first and explode pairs
    over the DISTINCT vocabulary weighted by tf, and so does this
    query: at 100 TB the corpus pass is unavoidable, everything after
    it is vocab-sized.

    Cross-engine trap pinned by the explicit ``length(w) >= 2``
    filter in BOTH engines: Spark's ``sequence(1, 0)`` helpfully
    auto-reverses to ``[1, 0]`` where DuckDB's ``generate_series(1,
    0)`` is empty, so single-char words (which contribute no pairs by
    definition) would otherwise emit phantom one-char 'pairs' in
    Spark only. Declared semantics exclude them up front.

    Reference parity: extends the reference's token/statistics tier
    (nb:287-340 profile; q_token_histogram's Zipf head) toward the
    tokenizer-artifact family (SURVEY §2 text analysis).
    """
    # tf folded from the staged doc_term_tf artifact: identical
    # tokenization (lower + space split; the length>=2 filter subsumes
    # the artifact's empty-term drop), so summing per-doc tf over docs
    # IS the corpus word count — the corpus re-explode (scan + tokenize
    # + gram shuffle) collapses to an artifact read + one vocab-sized
    # aggregate, the same fold q_token_histogram/q_tfidf already ride.
    wf = (
        doc_term_tf_frame(spark, sf_dir)
        .filter(F.length("term") >= 2)
        .groupBy(F.col("term").alias("w"))
        .agg(F.sum("tf").alias("tf"))
    )
    pairs = wf.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substr(w, i, 2))"
            )
        ).alias("pair"),
        "tf",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("tf").alias("freq"))
        .orderBy(F.desc("freq"), "pair")
        .limit(BPE_PAIRS_TOP)
    )
