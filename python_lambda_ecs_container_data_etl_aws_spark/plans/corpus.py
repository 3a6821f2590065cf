"""Web-corpus preparation queries q80-q91: the line/URL/vocab-level
curation a 100 TB crawl pipeline runs that the earlier tiers don't
cover — C4-style line rules, CCNet boilerplate-line removal, domain
capping and URL filtering, vocabulary encoding, DSIR importance
weights, k-means assignment, cross-corpus near-dup, curriculum
ordering, sequence-packing offset index, and MinHash-estimate
validation.

- q80 line quality filter: C4's per-line rejection rules (short line,
  boilerplate marker, low token diversity, stopword lead) with
  first-fail attribution — a zero-shuffle explode + one source-keyed
  aggregation.
- q81 boilerplate line removal: CCNet's "drop lines that repeat across
  many documents" — line-hash frequency (one linear aggregation), then
  a broadcast flag join; no all-pairs anything.
- q82 domain cap: per-registered-domain keep-best-K (the crawl-side
  twin of q72's per-source cap) over URL host parsing.
- q83 vocab encode: frequency-ranked vocabulary build + document
  id-sequence encoding with OOV accounting (tokenizer-prep shape).
- q84 DSIR importance: hashed-feature target/raw frequency-ratio
  weights, integer-exact (Data Selection via Importance Resampling,
  Xie et al. 2023, reduced to its relational skeleton).
- q85 k-means assign: one Lloyd assignment step against fixed seed
  centroids on quantized embeddings — exact integer distances.
- q86 cross-corpus near-dup: new-crawl-vs-existing-corpus overlap via
  shared-shingle candidates + exact Jaccard verify, never old-vs-old.
- q87 length curriculum: decile bucketing by token count with exact
  allocation fingerprints (curriculum/data-ordering prep).
- q88 pack index: per-document global token offsets [start, end) and
  context-bin span from the two-pass prefix sum — the doc→bin index
  that q46's per-bin aggregate is built from.
- q89 MinHash Jaccard estimate vs exact: signature agreement on
  planted (doc, truncated-doc) pairs, both engines computing the SAME
  md5-derived hash family — validates the q25 LSH machinery's
  estimator end-to-end.
- q90 URL filter: RefinedWeb-style TLD/extension blocklists with
  first-fail attribution plus tracker-param canonicalization.
- q91 PII density histogram: the per-document distribution behind
  q56's per-source totals.
- q92 incremental boilerplate removal: the batch-vs-index shape of
  q81 with EXACTLY the streaming tier's cumulative-df semantic — the
  stream≡batch equivalence test pins the two together.
- q93 time-series resample + gap-fill + LOCF: dense hourly grid,
  zero-filled counts, last-observation-carried-forward via the
  portable gaps-and-islands form (no vendor IGNORE NULLS).
- q94 repeated-span detection (ExactSubstr-dedup measure): stride-1
  windows -> corpus frequency -> per-doc maximal-span interval merge.
- q95 entity-resolution blocking: blocking keys bound candidate
  generation, levenshtein verifies inside blocks only.
- q96 CDC apply with deletes: Debezium-shaped change log (I/U/D,
  latest sequence wins, deterministic tiebreak) folded onto a base
  snapshot — the delete semantics q08's upsert doesn't cover.
- q97 hard-negative mining: nearest same-label + nearest
  different-label vector per anchor (contrastive-training prep),
  exact quantized distances; retrieval-path split as q23 -> q27/q35.
- q98 kNN label-disagreement: Confident-Learning-shaped label-noise
  audit (neighbor-majority vote vs own label, deterministic ties).

The reference pipeline (CSV -> MySQL/DynamoDB loads) has no crawl
curation; these extend the Tier-C LLM-operator suite with
oracle-backed contracts. URLs and boilerplate plants are synthesized
deterministically inside both engines from doc_id (same fixture
pattern as q56's PII plants / q79's variant plants).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from .core import ORACLE, _q

# --------------------------------------------------------------------------
# shared helpers

# Engine-portable token "lines": documents are single-line space-
# separated text, so the line unit is a fixed 10-token window (the same
# segmentation trick as q64, reused as the line fixture for the
# line-level operators q80/q81).
_LINE_TOKS = 10

# The boilerplate plant: docs with doc_id % 13 == 0 get this exact
# 10-token line PREPENDED, so a known line repeats across ~1/13 of the
# corpus in both engines.
_BOILER = "subscribe to our newsletter click here now ok thanks bye"

_LINES_CTE = f"""
tok AS (
    SELECT doc_id, source,
           string_split(CASE WHEN doc_id % 13 = 0
                             THEN '{_BOILER} ' || text ELSE text END,
                        ' ') AS toks
    FROM documents
),
lines AS (
    SELECT doc_id, source, CAST(u.i AS BIGINT) AS line_idx,
           array_to_string(list_slice(toks, u.i * {_LINE_TOKS} + 1,
                                      u.i * {_LINE_TOKS} + {_LINE_TOKS}),
                           ' ') AS line_text
    FROM tok,
         UNNEST(range(0, (len(toks) + {_LINE_TOKS} - 1) // {_LINE_TOKS})) AS u(i)
)
"""


def _lines_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, line_idx, line_text): the Spark twin of the
    _LINES_CTE fixture — one explode, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit(_BOILER + " "), F.col("text")),
    ).otherwise(F.col("text"))
    n_lines = F.expr(
        f"CAST((size(toks) + {_LINE_TOKS} - 1) div {_LINE_TOKS} AS INT)"
    )
    return (
        d.select("doc_id", "source", F.split(planted, " ").alias("toks"))
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("line_idx"),
            "toks",
        )
        .select(
            "doc_id",
            "source",
            F.col("line_idx").cast("bigint").alias("line_idx"),
            F.array_join(
                F.slice(F.col("toks"), F.col("line_idx") * _LINE_TOKS + 1, _LINE_TOKS),
                " ",
            ).alias("line_text"),
        )
    )


def _md5_ordered(value_col: str, *order_cols: str) -> F.Column:
    """Aggregate twin of DuckDB ``md5(string_agg(v, ' ' ORDER BY ...))``:
    md5 of the group's ``value_col`` strings joined by one space in
    (order_cols...) order. The order keys must be non-null and unique
    within the group (struct sort compares them field by field before
    ever reaching the value)."""
    sorted_structs = F.array_sort(
        F.collect_list(F.struct(*order_cols, F.col(value_col).alias("__v")))
    )
    return F.md5(
        F.array_join(
            F.transform(sorted_structs, lambda x: x["__v"]), " "
        ).cast("binary")
    )


# --------------------------------------------------------------------------
# q80 line quality filter — C4's line-level rejection rules with
# first-fail attribution (the line-granular sibling of the q49 doc
# funnel). Everything is row-local until the final per-source
# aggregation: one explode, one shuffle, no joins. At 100 TB the rules
# run inside the scan stage's codegen.

_Q80_STOP_LEADS = ("the", "a")

ORACLE["q80_line_quality_filter"] = f"""
WITH {_LINES_CTE},
judged AS (
    SELECT source, doc_id, line_idx, line_text,
           len(string_split(line_text, ' ')) AS ntok,
           len(list_distinct(string_split(line_text, ' '))) AS ndist,
           string_split(line_text, ' ')[1] AS lead,
           contains(line_text, 'dup') AS has_marker
    FROM lines
),
attributed AS (
    SELECT source, doc_id, line_idx, line_text,
           CASE WHEN ntok < 5 THEN 'too_short'
                WHEN has_marker THEN 'boilerplate_marker'
                WHEN ndist * 10 < ntok * 6 THEN 'low_diversity'
                WHEN lead IN ('the', 'a') THEN 'stopword_lead'
                ELSE 'kept' END AS verdict
    FROM judged
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN verdict = 'too_short' THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
       CAST(SUM(CASE WHEN verdict = 'boilerplate_marker' THEN 1 ELSE 0 END) AS BIGINT) AS n_marker,
       CAST(SUM(CASE WHEN verdict = 'low_diversity' THEN 1 ELSE 0 END) AS BIGINT) AS n_lowdiv,
       CAST(SUM(CASE WHEN verdict = 'stopword_lead' THEN 1 ELSE 0 END) AS BIGINT) AS n_stoplead,
       md5(COALESCE(string_agg(CASE WHEN verdict = 'kept' THEN line_text END, ' '
                      ORDER BY doc_id, line_idx), '')) AS kept_md5
FROM attributed GROUP BY source ORDER BY source
"""


@_q("q80_line_quality_filter")
def q80(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = _lines_df(spark, sf_dir)
    toks = F.split("line_text", " ")
    judged = lines.select(
        "source",
        "doc_id",
        "line_idx",
        "line_text",
        F.size(toks).alias("ntok"),
        F.size(F.array_distinct(toks)).alias("ndist"),
        F.element_at(toks, 1).alias("lead"),
        F.col("line_text").contains("dup").alias("has_marker"),
    )
    verdict = (
        F.when(F.col("ntok") < 5, "too_short")
        .when(F.col("has_marker"), "boilerplate_marker")
        .when(F.col("ndist") * 10 < F.col("ntok") * 6, "low_diversity")
        .when(F.col("lead").isin(*_Q80_STOP_LEADS), "stopword_lead")
        .otherwise("kept")
    )
    att = judged.withColumn("verdict", verdict)

    def _n(v: str, out: str) -> F.Column:
        return (
            F.sum((F.col("verdict") == v).cast("bigint")).cast("bigint").alias(out)
        )

    # the kept_md5 string_agg skips non-kept lines: null out their text
    # so the Spark collect_list drops them the same way
    att = att.withColumn(
        "kept_text", F.when(F.col("verdict") == "kept", F.col("line_text"))
    )
    return (
        att.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            _n("kept", "n_kept"),
            _n("too_short", "n_short"),
            _n("boilerplate_marker", "n_marker"),
            _n("low_diversity", "n_lowdiv"),
            _n("stopword_lead", "n_stoplead"),
            _md5_ordered("kept_text", "doc_id", "line_idx").alias("kept_md5"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# q81 boilerplate line removal — CCNet/Dolma's corpus-frequency rule:
# a line occurring in >= 3 DISTINCT documents is boilerplate and every
# occurrence is dropped (q64 keeps the first copy; navigation chrome
# must not survive even once). Cost shape: one (line-hash -> distinct
# doc count) aggregation — linear — and the frequent-line set is tiny
# by construction (boilerplate means few distinct lines, many
# occurrences), so the flag join broadcasts at any corpus size.

_Q81_MIN_DOCS = 3

ORACLE["q81_boilerplate_lines"] = f"""
WITH {_LINES_CTE},
freq AS (
    SELECT line_text, COUNT(DISTINCT doc_id) AS ndocs
    FROM lines GROUP BY 1
),
flagged AS (
    SELECT l.source, l.doc_id, l.line_idx, l.line_text,
           (f.ndocs >= {_Q81_MIN_DOCS}) AS is_boiler
    FROM lines l JOIN freq f USING (line_text)
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(COUNT(DISTINCT CASE WHEN is_boiler THEN doc_id END) AS BIGINT)
           AS n_docs_affected,
       md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN line_text END, ' '
                      ORDER BY doc_id, line_idx), '')) AS survivors_md5
FROM flagged GROUP BY source ORDER BY source
"""


@_q("q81_boilerplate_lines")
def q81(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hash lines to 64-bit keys for the frequency shuffle and flag
    # join (the oracle groups by the string — a collision would fail
    # parity loudly), and join only the BOILERPLATE set back, not the
    # full distinct-line relation: the boiler set is tiny by
    # construction (few distinct lines, many occurrences), so AQE
    # broadcasts the flag join at any corpus size (no forced hint — a
    # pathological boiler set should degrade to a hash join, not OOM
    # the driver).
    lines = _lines_df(spark, sf_dir).withColumn(
        "wh", F.xxhash64("line_text")
    ).persist()
    boiler = (
        lines.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("ndocs"))
        .filter(F.col("ndocs") >= _Q81_MIN_DOCS)
        .select("wh", F.lit(True).alias("is_boiler"))
    )
    flagged = lines.join(boiler, "wh", "left").withColumn(
        "is_boiler", F.coalesce("is_boiler", F.lit(False))
    )
    out = (
        flagged.withColumn(
            "surv_text", F.when(~F.col("is_boiler"), F.col("line_text"))
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("is_boiler").cast("bigint")).cast("bigint").alias("n_dropped"),
            F.countDistinct(
                F.when(F.col("is_boiler"), F.col("doc_id"))
            ).cast("bigint").alias("n_docs_affected"),
            _md5_ordered("surv_text", "doc_id", "line_idx").alias("survivors_md5"),
        )
        .orderBy("source")
    )
    return out


# --------------------------------------------------------------------------
# q82 domain cap — per-registered-domain keep-best-K over parsed URLs
# (the crawl-side twin of q72's per-source cap: at web scale the cap
# key comes out of the URL, not a clean source column). URLs are
# synthesized deterministically from doc_id in both engines; host
# parsing is one regexp, the cap is one domain-keyed window.

_Q82_CAP = 5

# ~23 registered domains x 3 TLD variants, www. prefix on 1/4 of URLs,
# tracker params on 1/5 — enough structure for parsing to matter and
# caps to bind at every scale factor.
_URL_SQL = """
    'https://' || CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
    || 'd' || CAST(doc_id % 23 AS VARCHAR)
    || '.example' || CAST(doc_id % 3 AS VARCHAR)
    || CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.net' ELSE '.xxx' END
    || '/p/' || CAST(doc_id AS VARCHAR)
    || CASE WHEN doc_id % 7 = 0 THEN '/f.exe' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN '?utm_source=x' ELSE '' END
"""


def _url_col() -> F.Column:
    did = F.col("doc_id")
    return F.concat(
        F.lit("https://"),
        F.when(did % 4 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("d"),
        (did % 23).cast("string"),
        F.lit(".example"),
        (did % 3).cast("string"),
        F.when(did % 3 == 0, F.lit(".com"))
        .when(did % 3 == 1, F.lit(".net"))
        .otherwise(F.lit(".xxx")),
        F.lit("/p/"),
        did.cast("string"),
        F.when(did % 7 == 0, F.lit("/f.exe")).otherwise(F.lit("")),
        F.when(did % 5 == 0, F.lit("?utm_source=x")).otherwise(F.lit("")),
    )


_HOST_RE = "^https?://([^/?]+)"

ORACLE["q82_domain_cap"] = f"""
WITH u AS (
    SELECT doc_id, n_chars, ({_URL_SQL}) AS url FROM documents
),
host AS (
    SELECT doc_id, n_chars,
           regexp_replace(regexp_extract(url, '{_HOST_RE}', 1), '^www\\.', '')
               AS domain
    FROM u
),
r AS (
    SELECT doc_id, domain,
           ROW_NUMBER() OVER (PARTITION BY domain
                              ORDER BY n_chars DESC, doc_id) AS rn
    FROM host
)
SELECT domain,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN rn <= {_Q82_CAP} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(string_agg(CASE WHEN rn <= {_Q82_CAP} THEN CAST(doc_id AS VARCHAR) END,
                      ' ' ORDER BY doc_id)) AS kept_md5
FROM r GROUP BY domain ORDER BY domain
"""


@_q("q82_domain_cap")
def q82(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    host = d.select(
        "doc_id",
        "n_chars",
        F.regexp_replace(
            F.regexp_extract(_url_col(), _HOST_RE, 1), r"^www\.", ""
        ).alias("domain"),
    )
    # Hot-domain posture: a single window over every row would pull a
    # crawl-skewed domain's whole population through one sort
    # partition. Split instead: counts are a plain map-side-combining
    # aggregate (skew-immune), and the kept set is a rank FILTER
    # (rn <= K) that Spark's WindowGroupLimit prunes to ~K rows per
    # map partition BEFORE the shuffle (plan-asserted) — the hot
    # domain ships K x partitions rows, not its corpus share.
    counts = host.groupBy("domain").agg(F.count(F.lit(1)).alias("n_docs"))
    w = Window.partitionBy("domain").orderBy(F.col("n_chars").desc(), "doc_id")
    kept = (
        host.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _Q82_CAP)
        .withColumn("kept_id", F.col("doc_id").cast("string"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_kept"),
            _md5_ordered("kept_id", "doc_id").alias("kept_md5"),
        )
    )
    return counts.join(kept, "domain").orderBy("domain")


# --------------------------------------------------------------------------
# q83 vocab encode — tokenizer-prep: build a frequency-ranked
# vocabulary (top V tokens -> ids 1..V, everything else OOV id 0) and
# encode each document as its id sequence. The vocab is one global
# aggregation + window over |vocab| rows (tiny), broadcast into the
# encode join; reassembly is a per-doc ordered fold. At 100 TB the
# token explode dominates and stays a zero-shuffle scan stage.

_Q83_V = 30

ORACLE["q83_vocab_encode"] = f"""
WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
tok AS (
    SELECT doc_id, toks[u.i] AS tok, CAST(u.i AS BIGINT) AS pos
    FROM t0, UNNEST(range(1, len(toks) + 1)) AS u(i)
),
vocab AS (
    SELECT tok, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS vid
    FROM tok GROUP BY tok
    QUALIFY vid <= {_Q83_V}
),
enc AS (
    SELECT t.doc_id, t.pos, COALESCE(v.vid, 0) AS vid
    FROM tok t LEFT JOIN vocab v USING (tok)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(CASE WHEN vid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       array_to_string(list_slice(list(vid ORDER BY pos), 1, 12), ',') AS head_ids,
       md5(string_agg(CAST(vid AS VARCHAR), ',' ORDER BY pos)) AS ids_md5
FROM enc GROUP BY doc_id ORDER BY doc_id
"""


@_q("q83_vocab_encode")
def q83(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).cast("bigint").alias("pos"), "tok")
    # top-V FIRST (TakeOrderedAndProject — distributed partial top-V per
    # partition, no full-vocab exchange), THEN the id-assigning window
    # over just V rows. Ranking before limiting would put the entire
    # distinct-token relation — billions of rows on web text — through
    # one single-partition window.
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("tok"))
        .limit(_Q83_V)
        .withColumn(
            "vid",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("tok"))
            ),
        )
        .select("tok", "vid")
    )
    enc = tok.join(F.broadcast(vocab), "tok", "left").select(
        "doc_id", "pos", F.coalesce("vid", F.lit(0)).alias("vid")
    )
    ids_sorted = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "vid"))),
        lambda x: x["vid"].cast("string"),
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum((F.col("vid") == 0).cast("bigint")).cast("bigint").alias("n_oov"),
            F.array_join(F.slice(ids_sorted, 1, 12), ",").alias("head_ids"),
            F.md5(F.array_join(ids_sorted, ",").cast("binary")).alias("ids_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q84 DSIR importance weights (Xie et al. 2023, relational skeleton):
# hash every token into B buckets, estimate target (lang='en') vs raw
# frequency per bucket, weight each document by the sum of its tokens'
# integer ratio weights. Exact: the per-bucket weight is one BIGINT
# integer division, the doc score an exact BIGINT sum. Shapes: two
# linear (bucket -> count) aggregations; the B-row weight table
# broadcasts into the scoring join; one per-doc aggregation. No float
# accumulation anywhere.

_Q84_BUCKETS = 64
_Q84_SCALE = 1_000_000

# md5-prefix bucket of a token, 0..B-1 — the same engine-portable hash
# family as curation.md5_bucket100, at feature-hash width.
_Q84_BUCKET_SQL = (
    f"CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) % {_Q84_BUCKETS}"
)


def _q84_bucket(tok: F.Column) -> F.Column:
    return (
        F.conv(F.substring(F.md5(tok.cast("binary")), 1, 15), 16, 10).cast("bigint")
        % _Q84_BUCKETS
    )


ORACLE["q84_dsir_importance"] = f"""
WITH tok AS (
    SELECT doc_id, lang, u.t AS tok
    FROM documents, UNNEST(string_split(text, ' ')) AS u(t)
),
b AS (SELECT doc_id, lang, {_Q84_BUCKET_SQL} AS bucket FROM tok),
w AS (
    SELECT bucket,
           CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * {_Q84_SCALE}
                // COUNT(*) AS BIGINT) AS wgt
    FROM b GROUP BY bucket
)
SELECT b.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_toks,
       CAST(SUM(w.wgt) AS BIGINT) AS importance
FROM b JOIN w USING (bucket)
GROUP BY b.doc_id ORDER BY b.doc_id
"""


@_q("q84_dsir_importance")
def q84(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select("doc_id", "lang", _q84_bucket(F.col("tok")).alias("bucket"))
    b = b.persist()  # feeds the weight fit AND the scoring join
    w = b.groupBy("bucket").agg(
        F.expr(
            f"CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) * {_Q84_SCALE}"
            " div count(*) AS BIGINT)"
        ).alias("wgt")
    )
    return (
        b.join(F.broadcast(w), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum("wgt").cast("bigint").alias("importance"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q85 k-means assignment step — one Lloyd iteration's assign phase
# against fixed seed centroids (the embeddings of vec_id 0..K-1),
# components quantized to integers so squared L2 distances are exact
# BIGINTs in both engines (same quantization contract as q23/q48).
# Shapes: the centroid component relation is K x dim rows — broadcast;
# per-(vector, centroid) partial sums aggregate map-side; argmin is a
# per-vector window over K rows. Nothing is all-pairs in the corpus.

_Q85_K = 8

ORACLE["q85_kmeans_assign"] = f"""
WITH comp AS (
    SELECT vec_id, i AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
    FROM embeddings, range(1, 65) t(i)
),
cent AS (SELECT vec_id AS cid, pos, qv FROM comp WHERE vec_id < {_Q85_K}),
dist AS (
    SELECT v.vec_id, c.cid,
           SUM((v.qv - c.qv) * (v.qv - c.qv)) AS d2
    FROM comp v JOIN cent c USING (pos)
    GROUP BY 1, 2
),
best AS (
    SELECT vec_id, cid, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM dist
)
SELECT cid,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       CAST(SUM(d2) AS BIGINT) AS sum_dist2,
       md5(string_agg(CAST(vec_id AS VARCHAR), ' ' ORDER BY vec_id)) AS members_md5
FROM best WHERE rn = 1
GROUP BY cid ORDER BY cid
"""


@_q("q85_kmeans_assign")
def q85(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 1000).cast("bigint").alias("qv"),
    )
    cent = comp.filter(F.col("vec_id") < _Q85_K).select(
        F.col("vec_id").alias("cid"), "pos", F.col("qv").alias("cq")
    )
    dist = (
        comp.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum((F.col("qv") - F.col("cq")) * (F.col("qv") - F.col("cq"))).alias(
                "d2"
            )
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "cid")
    best = dist.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        best.withColumn("vid_s", F.col("vec_id").cast("string"))
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            F.sum("d2").cast("bigint").alias("sum_dist2"),
            _md5_ordered("vid_s", "vec_id").alias("members_md5"),
        )
        .orderBy("cid")
    )


# --------------------------------------------------------------------------
# q86 cross-corpus near-dup — dedup a "new crawl" (sources src10+,
# plus planted truncated copies of old docs) against the "existing
# corpus" (src0-src9) WITHOUT ever comparing old-vs-old: candidates
# come only from shingles the two sides share, then exact Jaccard
# verifies each candidate pair. The planted copies guarantee real
# overlap at every scale factor. At 100 TB the old side's shingle
# relation is the persisted index (dedup.lsh_index_of shape); per
# batch, cost scales with the new side only.
#
# Boilerplate defense (round-4 scale smoke finding): a shingle shared
# by half the corpus (navigation chrome, license footers) turns the
# naive shared-shingle join quadratic — 25k x 25k candidate pairs
# through ONE hot shingle on the 100k boilerplate-heavy smoke. So
# candidate GENERATION uses only informative shingles (document
# frequency <= _Q86_DF_CAP across both sides — the "stop shingle"
# rule, same idea as the LSH bucket cap in dedup._band_pairs), while
# the Jaccard VERIFY still counts every shared shingle, restricted to
# candidate pairs. A pair sharing ONLY ubiquitous shingles is not
# reported — that is the operator's documented semantic, identical in
# both engines (the oracle applies the same cap).

_Q86_N = 5          # shingle width
_Q86_THRESH = 0.35  # exact-Jaccard keep threshold
_Q86_PLANT_MOD = 31
_Q86_PLANT_TOKS = 40
_Q86_DF_CAP = 64    # max doc-frequency for a candidate-generating shingle

ORACLE["q86_crosscorpus_neardup"] = f"""
WITH old_docs AS (
    SELECT doc_id, text FROM documents
    WHERE CAST(substr(source, 4) AS INT) < 10
),
new_real AS (
    SELECT doc_id, text FROM documents
    WHERE CAST(substr(source, 4) AS INT) >= 10
),
plants AS (
    SELECT doc_id + 1000000 AS doc_id,
           array_to_string(list_slice(string_split(text, ' '), 1,
                                      {_Q86_PLANT_TOKS}), ' ') AS text
    FROM old_docs WHERE doc_id % {_Q86_PLANT_MOD} = 0
),
new_docs AS (SELECT * FROM new_real UNION ALL SELECT * FROM plants),
osh AS (
    SELECT DISTINCT doc_id, s FROM
    (SELECT doc_id, string_split(text, ' ') AS toks FROM old_docs),
    UNNEST(list_transform(range(1, len(toks) - {_Q86_N} + 2),
        i -> array_to_string(list_slice(toks, i, i + {_Q86_N} - 1), ' '))) AS u(s)
    WHERE len(toks) >= {_Q86_N}
),
nsh AS (
    SELECT DISTINCT doc_id, s FROM
    (SELECT doc_id, string_split(text, ' ') AS toks FROM new_docs),
    UNNEST(list_transform(range(1, len(toks) - {_Q86_N} + 2),
        i -> array_to_string(list_slice(toks, i, i + {_Q86_N} - 1), ' '))) AS u(s)
    WHERE len(toks) >= {_Q86_N}
),
rare AS (
    SELECT s FROM (
        SELECT s, COUNT(*) AS dfreq FROM
        (SELECT s FROM nsh UNION ALL SELECT s FROM osh) GROUP BY s
    ) WHERE dfreq <= {_Q86_DF_CAP}
),
cand AS (
    SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
    FROM nsh n JOIN rare USING (s) JOIN osh o USING (s)
),
osz AS (SELECT doc_id, COUNT(*) AS n FROM osh GROUP BY 1),
nsz AS (SELECT doc_id, COUNT(*) AS n FROM nsh GROUP BY 1),
ov AS (
    SELECT c.new_id, c.old_id, COUNT(*) AS shared
    FROM cand c
    JOIN nsh n ON n.doc_id = c.new_id
    JOIN osh o ON o.doc_id = c.old_id AND o.s = n.s
    GROUP BY 1, 2
)
SELECT new_id, old_id,
       CAST(shared AS BIGINT) AS n_shared,
       CAST(shared AS DOUBLE) / (nz.n + oz.n - shared) AS jaccard
FROM ov
JOIN nsz nz ON nz.doc_id = new_id
JOIN osz oz ON oz.doc_id = old_id
WHERE CAST(shared AS DOUBLE) / (nz.n + oz.n - shared) >= {_Q86_THRESH}
ORDER BY new_id, old_id
"""


@_q("q86_crosscorpus_neardup")
def q86(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import crosscorpus_neardup_pairs

    d = load_table(spark, sf_dir, "documents")
    # literal IN lists instead of CAST(substr(source,4)) arithmetic:
    # the membership predicate pushes into the parquet scan
    # (PushedFilters shows In(source, ...)); the cast expression never
    # would
    old_srcs = [f"src{i}" for i in range(10)]
    new_srcs = [f"src{i}" for i in range(10, 20)]
    old_docs = d.filter(F.col("source").isin(old_srcs)).select("doc_id", "text")
    new_real = d.filter(F.col("source").isin(new_srcs)).select("doc_id", "text")
    plants = old_docs.filter(F.col("doc_id") % _Q86_PLANT_MOD == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split("text", " "), 1, _Q86_PLANT_TOKS), " "
        ).alias("text"),
    )
    new_docs = new_real.unionByName(plants)
    return crosscorpus_neardup_pairs(
        old_docs,
        new_docs,
        n=_Q86_N,
        threshold=_Q86_THRESH,
        df_cap=_Q86_DF_CAP,
    ).orderBy("new_id", "old_id")


# --------------------------------------------------------------------------
# q87 length curriculum — decile bucketing by token count (ties broken
# by doc_id, so NTILE allocation is identical across engines) with
# per-decile stats and an exact membership fingerprint: the
# data-ordering prep for curriculum training (short-to-long schedule).
# Spark side does NOT use a bare Window.orderBy NTILE (that is a
# single-partition global window — the anti-pattern W1 exists to
# avoid): the global rank comes from chunking.add_autoid (range
# partition + broadcast offsets) and the NTILE allocation is computed
# arithmetically from that rank — bucket i <= n%10 gets n//10+1 rows,
# the rest n//10, exactly NTILE(10)'s contract in both engines.

ORACLE["q87_length_curriculum"] = """
WITH t AS (
    SELECT doc_id, len(string_split(text, ' ')) AS ntok FROM documents
),
d AS (
    SELECT doc_id, ntok,
           NTILE(10) OVER (ORDER BY ntok, doc_id) AS decile
    FROM t
)
SELECT decile,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(ntok) AS BIGINT) AS min_toks,
       CAST(MAX(ntok) AS BIGINT) AS max_toks,
       CAST(SUM(ntok) AS BIGINT) AS sum_toks,
       md5(string_agg(CAST(doc_id AS VARCHAR), ' ' ORDER BY doc_id)) AS members_md5
FROM d GROUP BY decile ORDER BY decile
"""


@_q("q87_length_curriculum")
def q87(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.chunking import add_autoid

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("ntok")
    )
    n = d.count()  # O(1) from parquet metadata; add_autoid collects O(P) anyway
    b, r = divmod(n, 10)
    ranked = add_autoid(d, ["ntok", "doc_id"])
    # NTILE(10) arithmetic on the scalable global rank: first r buckets
    # hold b+1 rows, the rest b (div-by-zero guard never taken: when
    # b == 0 every rank falls in the first branch)
    dec = ranked.withColumn(
        "decile",
        F.expr(
            f"CAST(CASE WHEN autoid <= {r * (b + 1)}"
            f" THEN (autoid - 1) div {b + 1} + 1"
            f" ELSE {r} + (autoid - 1 - {r * (b + 1)}) div {max(b, 1)} + 1"
            " END AS INT)"
        ),
    )
    return (
        dec.withColumn("did_s", F.col("doc_id").cast("string"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("ntok").cast("bigint").alias("min_toks"),
            F.max("ntok").cast("bigint").alias("max_toks"),
            F.sum("ntok").cast("bigint").alias("sum_toks"),
            _md5_ordered("did_s", "doc_id").alias("members_md5"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# q88 pack index — per-document global token offsets [start, end) from
# the running token total, plus which fixed-size context bins the doc
# spans: the doc->offset index a sequence-packing writer emits (q46 is
# the per-bin aggregate view of the same prefix sum). Built on
# sources/chunking.add_prefix_sum — two-pass range-partitioned prefix
# sum, NO single-partition global window (plan-asserted there).

_Q88_CTX = 512


ORACLE["q88_pack_index"] = f"""
WITH t AS (
    SELECT doc_id, len(string_split(text, ' ')) AS ntok FROM documents
),
c AS (
    SELECT doc_id, ntok,
           SUM(ntok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
    FROM t
)
SELECT doc_id,
       CAST(ntok AS BIGINT) AS n_toks,
       CAST(cum - ntok AS BIGINT) AS start_tok,
       CAST(cum AS BIGINT) AS end_tok,
       CAST((cum - ntok) // {_Q88_CTX} AS BIGINT) AS bin_first,
       CAST((cum - 1) // {_Q88_CTX} AS BIGINT) AS bin_last,
       CAST((cum - 1) // {_Q88_CTX} - (cum - ntok) // {_Q88_CTX} + 1 AS BIGINT)
           AS n_bins
FROM c ORDER BY doc_id
"""


@_q("q88_pack_index")
def q88(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.chunking import add_prefix_sum

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("ntok")
    )
    c = add_prefix_sum(d, ["doc_id"], "ntok", out_col="cum")
    start = F.col("cum") - F.col("ntok")
    bin_first = F.expr(f"(cum - ntok) div {_Q88_CTX}")
    bin_last = F.expr(f"(cum - 1) div {_Q88_CTX}")
    return c.select(
        "doc_id",
        F.col("ntok").cast("bigint").alias("n_toks"),
        start.cast("bigint").alias("start_tok"),
        F.col("cum").cast("bigint").alias("end_tok"),
        bin_first.cast("bigint").alias("bin_first"),
        bin_last.cast("bigint").alias("bin_last"),
        (bin_last - bin_first + 1).cast("bigint").alias("n_bins"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# q89 MinHash Jaccard estimate vs exact — both engines compute the
# SAME md5-derived K-function hash family over 3-gram shingles for
# planted (doc, truncated-variant) pairs, count signature agreements,
# and compare the estimate against exact Jaccard. This is the
# estimator inside q25's LSH dedup validated end-to-end as a hash
# contract (not just recall-gated). Cost: pairs are 1/29 of the
# corpus; per pair O(shingles x K) rows, aggregated map-side.

_Q89_K = 16
_Q89_MOD = 29

ORACLE["q89_minhash_jaccard_est"] = f"""
WITH src AS (
    SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    WHERE doc_id % {_Q89_MOD} = 0
),
sides AS (
    SELECT doc_id, 0 AS side, toks FROM src
    UNION ALL
    SELECT doc_id, 1 AS side,
           list_slice(toks, 1, greatest(3, len(toks) * 6 // 10)) AS toks
    FROM src
),
sh AS (
    SELECT DISTINCT doc_id, side,
           toks[u.i] || ' ' || toks[u.i+1] || ' ' || toks[u.i+2] AS s
    FROM sides, UNNEST(range(1, len(toks) - 1)) AS u(i)
),
h AS (
    SELECT doc_id, side, CAST(j.j AS INT) AS j,
           CAST('0x' || substr(md5(CAST(j.j AS VARCHAR) || ':' || s), 1, 15)
                AS BIGINT) AS hv
    FROM sh, UNNEST(range(1, {_Q89_K} + 1)) AS j(j)
),
sig AS (SELECT doc_id, side, j, MIN(hv) AS m FROM h GROUP BY 1, 2, 3),
agree AS (
    SELECT a.doc_id, COUNT(*) FILTER (WHERE a.m = b.m) AS n_match
    FROM sig a JOIN sig b ON a.doc_id = b.doc_id AND a.j = b.j
    WHERE a.side = 0 AND b.side = 1
    GROUP BY 1
),
sz AS (
    SELECT doc_id,
           COUNT(*) FILTER (WHERE has_a) AS na,
           COUNT(*) FILTER (WHERE has_b) AS nb,
           COUNT(*) FILTER (WHERE has_a AND has_b) AS shared
    FROM (SELECT doc_id, s,
                 BOOL_OR(side = 0) AS has_a, BOOL_OR(side = 1) AS has_b
          FROM sh GROUP BY doc_id, s)
    GROUP BY 1
)
SELECT a.doc_id,
       CAST(a.n_match AS BIGINT) AS n_match,
       CAST(a.n_match AS DOUBLE) / {_Q89_K} AS est_jaccard,
       CAST(z.shared AS DOUBLE) / (z.na + z.nb - z.shared) AS exact_jaccard
FROM agree a JOIN sz z USING (doc_id)
ORDER BY a.doc_id
"""


@_q("q89_minhash_jaccard_est")
def q89(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % _Q89_MOD == 0
    )
    toks = F.split("text", " ")
    src = d.select("doc_id", toks.alias("toks"))
    sides = src.select("doc_id", F.lit(0).alias("side"), "toks").unionByName(
        src.select(
            "doc_id",
            F.lit(1).alias("side"),
            F.slice(
                "toks",
                 1,
                F.greatest(F.lit(3), F.expr("size(toks) * 6 div 10")).cast("int"),
            ).alias("toks"),
        )
    )
    # short-side guard: sequence(0, size-3) goes DESCENDING below 3
    # tokens and indexes toks out of bounds under ANSI mode (the
    # operators/dedup.shingles hazard) — the oracle's range() is
    # empty-safe, so guard with CASE to match it exactly
    gen = (
        "CASE WHEN size(toks) >= 3 THEN "
        "array_distinct(transform(sequence(0, size(toks) - 3), "
        "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) "
        "ELSE array() END"
    )
    sh = sides.select(
        "doc_id", "side", F.explode(F.expr(gen)).alias("s")
    ).persist()
    h = sh.select(
        "doc_id",
        "side",
        F.explode(F.sequence(F.lit(1), F.lit(_Q89_K))).alias("j"),
        "s",
    ).select(
        "doc_id",
        "side",
        F.col("j").cast("int").alias("j"),
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("j").cast("string"), F.lit(":"), F.col("s")
                    ).cast("binary")
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("hv"),
    )
    sig = h.groupBy("doc_id", "side", "j").agg(F.min("hv").alias("m"))
    a = sig.filter(F.col("side") == 0).select("doc_id", "j", F.col("m").alias("ma"))
    b = sig.filter(F.col("side") == 1).select("doc_id", "j", F.col("m").alias("mb"))
    agree = (
        a.join(b, ["doc_id", "j"])
        .groupBy("doc_id")
        .agg(F.sum((F.col("ma") == F.col("mb")).cast("bigint")).alias("n_match"))
    )
    sz = (
        sh.groupBy("doc_id", "s")
        .agg(
            F.max((F.col("side") == 0).cast("int")).alias("has_a"),
            F.max((F.col("side") == 1).cast("int")).alias("has_b"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("has_a").alias("na"),
            F.sum("has_b").alias("nb"),
            F.sum(F.col("has_a") * F.col("has_b")).alias("shared"),
        )
    )
    return (
        agree.join(sz, "doc_id")
        .select(
            "doc_id",
            F.col("n_match").cast("bigint").alias("n_match"),
            (F.col("n_match").cast("double") / _Q89_K).alias("est_jaccard"),
            (
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared"))
            ).alias("exact_jaccard"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q90 URL filter — RefinedWeb-style URL hygiene over the same
# synthesized URLs as q82: blocklisted TLD, executable path extension
# (first-fail attribution), and tracker-parameter stripping on the
# kept set (canonical URL fingerprint). Pure row-local projection +
# one verdict-keyed aggregation — scan-stage work at any scale.

ORACLE["q90_url_filter"] = f"""
WITH u AS (
    SELECT doc_id, ({_URL_SQL}) AS url FROM documents
),
parsed AS (
    SELECT doc_id, url,
           regexp_replace(regexp_extract(url, '{_HOST_RE}', 1), '^www\\.', '')
               AS domain,
           string_split(url, '?')[1] AS canon
    FROM u
),
judged AS (
    SELECT doc_id, domain, canon,
           CASE WHEN domain LIKE '%.xxx' THEN 'bad_tld'
                WHEN canon LIKE '%.exe' THEN 'bad_extension'
                ELSE 'kept' END AS verdict
    FROM parsed
)
SELECT verdict,
       CAST(COUNT(*) AS BIGINT) AS n_urls,
       CAST(COUNT(DISTINCT domain) AS BIGINT) AS n_domains,
       md5(string_agg(canon, ' ' ORDER BY doc_id)) AS canon_md5
FROM judged GROUP BY verdict ORDER BY verdict
"""


@_q("q90_url_filter")
def q90(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    parsed = d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_extract(_url_col(), _HOST_RE, 1), r"^www\.", ""
        ).alias("domain"),
        F.element_at(F.split(_url_col(), r"\?"), 1).alias("canon"),
    )
    verdict = (
        F.when(F.col("domain").endswith(".xxx"), "bad_tld")
        .when(F.col("canon").endswith(".exe"), "bad_extension")
        .otherwise("kept")
    )
    return (
        parsed.withColumn("verdict", verdict)
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("domain").cast("bigint").alias("n_domains"),
            _md5_ordered("canon", "doc_id").alias("canon_md5"),
        )
        .orderBy("verdict")
    )


# --------------------------------------------------------------------------
# q91 PII density histogram — the per-document distribution behind
# q56's per-source totals: how MANY documents carry how MUCH PII
# (capped count bucket), per source. Reuses q56's planted fixture and
# the same scrub_pii operator; one extra integer bucketing, one
# (source, bucket) aggregation.

_Q91_CAP = 3  # bucket = LEAST(n_pii, cap): 0, 1, 2, 3+


ORACLE["q91_pii_density_hist"] = f"""
WITH aug AS (SELECT doc_id, source, ({{aug}}) AS text FROM documents),
scrubbed AS (
    SELECT doc_id, source,
           len(regexp_extract_all(text, '{{email}}'))
           + len(regexp_extract_all(
                 regexp_replace(text, '{{email}}', '<EMAIL>', 'g'), '{{phone}}'))
           + len(regexp_extract_all(
                 regexp_replace(regexp_replace(text, '{{email}}', '<EMAIL>', 'g'),
                                '{{phone}}', '<PHONE>', 'g'), '{{ip}}'))
               AS n_pii,
           len(string_split(text, ' ')) AS n_toks
    FROM aug
)
SELECT source,
       CAST(LEAST(n_pii, {_Q91_CAP}) AS BIGINT) AS pii_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_toks) AS BIGINT) AS sum_toks
FROM scrubbed GROUP BY source, pii_bucket ORDER BY source, pii_bucket
"""


def _q91_fill_oracle() -> None:
    from ..operators import text as text_ops
    from .cleaning import _PII_AUG_SQL

    ORACLE["q91_pii_density_hist"] = ORACLE["q91_pii_density_hist"].format(
        aug=_PII_AUG_SQL,
        email=text_ops.PII_EMAIL_RE,
        phone=text_ops.PII_PHONE_RE,
        ip=text_ops.PII_IP_RE,
    )


_q91_fill_oracle()


@_q("q91_pii_density_hist")
def q91(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as text_ops
    from .cleaning import pii_augmented

    aug = pii_augmented(load_table(spark, sf_dir, "documents"))
    scrubbed = text_ops.scrub_pii(aug).select(
        "source",
        F.least(
            F.col("n_emails") + F.col("n_phones") + F.col("n_ips"),
            F.lit(_Q91_CAP),
        )
        .cast("bigint")
        .alias("pii_bucket"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_toks"),
    )
    return (
        scrubbed.groupBy("source", "pii_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("sum_toks"),
        )
        .orderBy("source", "pii_bucket")
    )


# --------------------------------------------------------------------------
# q92 incremental boilerplate removal — the batch-vs-index shape of
# q81 (and the EXACT semantic of streaming.boilerplate_lines_ingest_
# stream's per-batch step): a new batch of docs (doc_id % 10 >= 8) is
# cleaned against the existing corpus's line-frequency index
# (doc_id % 10 < 8) PLUS the batch's own counts — a line whose
# cumulative distinct-doc frequency reaches the threshold is dropped
# from the batch docs; the old corpus is never re-cleaned (q81 is the
# full compaction). At scale the old side is the persisted __linedf
# index: per batch, cost scales with the batch.

_Q92_MIN_DOCS = 3

ORACLE["q92_incremental_boilerplate"] = f"""
WITH {_LINES_CTE},
old_df AS (
    SELECT line_text, COUNT(DISTINCT doc_id) AS odocs
    FROM lines WHERE doc_id % 10 < 8 GROUP BY 1
),
batch AS (SELECT * FROM lines WHERE doc_id % 10 >= 8),
batch_df AS (
    SELECT line_text, COUNT(DISTINCT doc_id) AS bdocs
    FROM batch GROUP BY 1
),
judged AS (
    SELECT b.source, b.doc_id, b.line_idx, b.line_text,
           (COALESCE(o.odocs, 0) + d.bdocs >= {_Q92_MIN_DOCS}) AS is_boiler
    FROM batch b
    JOIN batch_df d USING (line_text)
    LEFT JOIN old_df o USING (line_text)
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN NOT is_boiler THEN line_text END, ' '
                               ORDER BY line_idx), '')) AS clean_md5
FROM judged GROUP BY doc_id ORDER BY doc_id
"""


@_q("q92_incremental_boilerplate")
def q92(spark: SparkSession, sf_dir: str) -> DataFrame:
    # all df-count joins keyed by the 64-bit line hash — the shuffles
    # carry 8-byte keys, never the line strings (same trick as q81/q94;
    # the persisted streaming index stores md5 keys for the same reason)
    lines = _lines_df(spark, sf_dir).withColumn("wh", F.xxhash64("line_text"))
    old_df = (
        lines.filter(F.col("doc_id") % 10 < 8)
        .groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("odocs"))
    )
    batch = lines.filter(F.col("doc_id") % 10 >= 8).persist()
    batch_df = batch.groupBy("wh").agg(
        F.countDistinct("doc_id").alias("bdocs")
    )
    judged = (
        batch.join(batch_df, "wh")
        .join(old_df, "wh", "left")
        .withColumn(
            "is_boiler",
            (F.coalesce("odocs", F.lit(0)) + F.col("bdocs")) >= _Q92_MIN_DOCS,
        )
    )
    surv = F.when(~F.col("is_boiler"), F.col("line_text"))
    return (
        judged.withColumn("surv", surv)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("is_boiler").cast("bigint")).cast("bigint").alias("n_dropped"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("line_idx", F.col("surv").alias("__v"))
                            )
                        ),
                        lambda x: x["__v"],
                    ),
                    " ",
                ).cast("binary")
            ).alias("clean_md5"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q93 time-series resample + gap-fill + LOCF — the temporal feature
# prep a training pipeline runs over event logs: a dense per-type
# hourly grid from the global time span, zero-filled counts, and
# last-observation-carried-forward of the (quantized, exact-integer)
# bucket value sum. LOCF is the portable gaps-and-islands form — a
# running count of observed buckets partitions the grid into islands,
# each island's head supplies the carried value — NOT a vendor
# IGNORE NULLS window. Scale: the grid is bounded by time span x
# types (not by event rows); per-type windows partition cleanly.

_Q93_BUCKET_US = 3_600_000_000  # 1 hour


ORACLE["q93_gapfill_locf"] = f"""
WITH e AS (
    SELECT event_type, epoch_us(ts) AS ts_us,
           CAST(floor(value * 100) AS BIGINT) AS qv
    FROM events
),
span AS (
    SELECT MIN(ts_us // {_Q93_BUCKET_US}) AS b0,
           MAX(ts_us // {_Q93_BUCKET_US}) AS b1
    FROM e
),
grid AS (
    SELECT t.event_type, CAST(u.b AS BIGINT) AS bucket
    FROM (SELECT DISTINCT event_type FROM e) t,
         span, UNNEST(range(b0, b1 + 1)) AS u(b)
),
agg AS (
    SELECT event_type, CAST(ts_us // {_Q93_BUCKET_US} AS BIGINT) AS bucket,
           COUNT(*) AS n_events, CAST(SUM(qv) AS BIGINT) AS qsum
    FROM e GROUP BY 1, 2
),
joined AS (
    SELECT g.event_type, g.bucket,
           COALESCE(a.n_events, 0) AS n_events,
           a.qsum,
           SUM(CASE WHEN a.qsum IS NOT NULL THEN 1 ELSE 0 END)
               OVER (PARTITION BY g.event_type ORDER BY g.bucket
                     ROWS UNBOUNDED PRECEDING) AS grp
    FROM grid g LEFT JOIN agg a USING (event_type, bucket)
)
SELECT event_type,
       CAST(bucket * {_Q93_BUCKET_US // 1_000_000} AS BIGINT) AS bucket_sec,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_events = 0 AS INT) AS is_gap,
       CAST(MAX(qsum) OVER (PARTITION BY event_type, grp) AS BIGINT) AS locf_qsum
FROM joined ORDER BY event_type, bucket_sec
"""


@_q("q93_gapfill_locf")
def q93(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.expr(f"ts_us div {_Q93_BUCKET_US}").cast("bigint").alias("bucket"),
        F.floor(F.col("value") * 100).cast("bigint").alias("qv"),
    )
    span = e.agg(
        F.min("bucket").alias("b0"), F.max("bucket").alias("b1")
    )
    types = e.select("event_type").distinct()
    grid = (
        types.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.explode(F.sequence(F.col("b0"), F.col("b1"))).alias("bucket"),
        )
    )
    agg = e.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("qv").cast("bigint").alias("qsum"),
    )
    w_grp = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = (
        grid.join(agg, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            "bucket",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            "qsum",
        )
        .withColumn(
            "grp",
            F.sum(F.col("qsum").isNotNull().cast("int")).over(w_grp),
        )
    )
    w_island = Window.partitionBy("event_type", "grp")
    return joined.select(
        "event_type",
        (F.col("bucket") * (_Q93_BUCKET_US // 1_000_000))
        .cast("bigint")
        .alias("bucket_sec"),
        F.col("n_events").cast("bigint").alias("n_events"),
        (F.col("n_events") == 0).cast("int").alias("is_gap"),
        F.max("qsum").over(w_island).cast("bigint").alias("locf_qsum"),
    ).orderBy("event_type", "bucket_sec")


# --------------------------------------------------------------------------
# q94 repeated-span detection (ExactSubstr-dedup measure, Lee et al.
# 2022, relational skeleton): stride-1 W-token windows, corpus
# frequency per window text, then per-doc merging of overlapping
# repeated windows into maximal spans (gaps-and-islands interval
# merge) — reporting how many of each doc's tokens sit inside a span
# that also occurs elsewhere. A 25-token plant on 1/13 of docs
# guarantees true repeated spans at every scale factor. Cost: the
# stride-1 explode is O(tokens); frequency is one linear agg; the
# interval merge is a per-doc window over that doc's repeated
# windows only.

_Q94_W = 20
_Q94_PLANT = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
    "kilo lima mike november oscar papa quebec romeo sierra tango "
    "uniform victor whiskey xray yankee"
)

ORACLE["q94_repeated_spans"] = f"""
WITH tok AS (
    SELECT doc_id,
           string_split(CASE WHEN doc_id % 13 = 0
                             THEN '{_Q94_PLANT} ' || text ELSE text END,
                        ' ') AS toks
    FROM documents
),
win AS (
    SELECT doc_id, CAST(u.p AS BIGINT) AS p,
           array_to_string(list_slice(toks, u.p, u.p + {_Q94_W} - 1), ' ') AS w
    FROM tok, UNNEST(range(1, len(toks) - {_Q94_W} + 2)) AS u(p)
    WHERE len(toks) >= {_Q94_W}
),
rep AS (
    SELECT w FROM win GROUP BY w HAVING COUNT(DISTINCT doc_id) >= 2
),
rw AS (SELECT win.doc_id, win.p FROM win JOIN rep USING (w)),
isl AS (
    SELECT doc_id, p,
           CASE WHEN p > COALESCE(MAX(p + {_Q94_W} - 1) OVER (
                    PARTITION BY doc_id ORDER BY p
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS new_island
    FROM rw
),
grp AS (
    SELECT doc_id, p,
           SUM(new_island) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS UNBOUNDED PRECEDING) AS island
    FROM isl
),
spans AS (
    SELECT doc_id, island, MIN(p) AS s, MAX(p) + {_Q94_W} - 1 AS e
    FROM grp GROUP BY doc_id, island
),
per_doc AS (
    SELECT doc_id,
           COUNT(*) AS n_spans,
           CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(toks) AS BIGINT) AS n_toks,
       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
       CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(COALESCE(p.dup_tokens, 0) AS DOUBLE) / len(toks) AS dup_frac
FROM tok t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id
"""


@_q("q94_repeated_spans")
def q94(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(F.lit(_Q94_PLANT + " "), F.col("text")),
    ).otherwise(F.col("text"))
    # NOT spread (round-11 A/B, same verdict as repetition_signals):
    # q94 1.54 s unspread vs 1.89 s spread at sf0.1 on local[32] —
    # the window-hash explode reads from the persisted relation, and
    # the spread exchange + wider cache cost more than the
    # parallelism bought.
    tok = d.select("doc_id", F.split(planted, " ").alias("toks")).persist()
    # hash each window INSIDE the generator: the shuffled/persisted
    # relation carries (doc_id, p, 64-bit hash), never the ~20-token
    # window strings themselves — at 100 TB the frequency shuffle moves
    # 8-byte keys instead of ~100-byte texts. (The oracle groups by the
    # string; a 64-bit collision would surface as a deterministic
    # parity mismatch — negligible odds, loud failure.)
    gen = (
        f"transform(sequence(1, size(toks) - {_Q94_W} + 1), "
        f"p -> struct(p AS p, xxhash64(concat_ws(' ', slice(toks, p, {_Q94_W}))) AS wh))"
    )
    win = (
        tok.filter(F.size("toks") >= _Q94_W)
        .select("doc_id", F.explode(F.expr(gen)).alias("pw"))
        .select(
            "doc_id", F.col("pw.p").cast("bigint").alias("p"), F.col("pw.wh").alias("wh")
        )
        .persist()
    )
    rep = (
        win.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("wh")
    )
    rw = win.join(rep, "wh").select("doc_id", "p")
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    isl = rw.withColumn(
        "new_island",
        (
            F.col("p")
            > F.coalesce(
                F.max(F.col("p") + _Q94_W - 1).over(w_prev), F.lit(-1)
            )
        ).cast("int"),
    )
    grp = isl.withColumn("island", F.sum("new_island").over(w_run))
    spans = grp.groupBy("doc_id", "island").agg(
        F.min("p").alias("s"), (F.max("p") + _Q94_W - 1).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("bigint").alias("dup_tokens"),
    )
    return (
        tok.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_toks"),
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("bigint").alias("dup_tokens"),
            (
                F.coalesce("dup_tokens", F.lit(0)).cast("double")
                / F.size("toks")
            ).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# q95 entity-resolution blocking — the classic ER shape: cheap
# BLOCKING keys make candidate generation linear (never an all-pairs
# name cross-join), then an edit-distance VERIFY runs only inside
# blocks. Here: customer x supplier blocked on (nationkey, last two
# digits of the entity number), verified with levenshtein <= 6 — both
# engines implement the same integer DP, so distances are exact.
# Block sizes are bounded by construction (the blocking-key histogram
# IS the skew diagnostic a real ER pipeline watches).

_Q95_MAX_DIST = 6

ORACLE["q95_entity_blocking"] = f"""
WITH c AS (
    SELECT c_custkey AS ck, c_name AS cn, c_nationkey AS nk,
           substr(c_name, length(c_name) - 1, 2) AS blk
    FROM customer
),
s AS (
    SELECT s_suppkey AS sk, s_name AS sn, s_nationkey AS nk,
           substr(s_name, length(s_name) - 1, 2) AS blk
    FROM supplier
),
cand AS (
    SELECT c.ck, s.sk, c.nk, levenshtein(c.cn, s.sn) AS dist
    FROM c JOIN s ON c.nk = s.nk AND c.blk = s.blk
)
SELECT nk,
       CAST(COUNT(*) AS BIGINT) AS n_matches,
       CAST(MIN(dist) AS BIGINT) AS min_dist,
       CAST(MAX(dist) AS BIGINT) AS max_dist,
       md5(string_agg(CAST(ck AS VARCHAR) || ':' || CAST(sk AS VARCHAR), ' '
                      ORDER BY ck, sk)) AS pairs_md5
FROM cand WHERE dist <= {_Q95_MAX_DIST}
GROUP BY nk ORDER BY nk
"""


@_q("q95_entity_blocking")
def q95(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"),
        F.col("c_name").alias("cn"),
        F.col("c_nationkey").alias("nk"),
        F.expr("substr(c_name, length(c_name) - 1, 2)").alias("blk"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"),
        F.col("s_name").alias("sn"),
        F.col("s_nationkey").alias("nk"),
        F.expr("substr(s_name, length(s_name) - 1, 2)").alias("blk"),
    )
    cand = cust.join(sup, ["nk", "blk"]).select(
        "nk", "ck", "sk", F.levenshtein("cn", "sn").alias("dist")
    )
    pair = F.concat(
        F.col("ck").cast("string"), F.lit(":"), F.col("sk").cast("string")
    )
    return (
        cand.filter(F.col("dist") <= _Q95_MAX_DIST)
        .withColumn("pair", pair)
        .groupBy("nk")
        .agg(
            F.count(F.lit(1)).alias("n_matches"),
            F.min("dist").cast("bigint").alias("min_dist"),
            F.max("dist").cast("bigint").alias("max_dist"),
            _md5_ordered("pair", "ck", "sk").alias("pairs_md5"),
        )
        .orderBy("nk")
    )


# --------------------------------------------------------------------------
# q96 CDC apply with deletes — the Debezium-shaped change-stream
# apply the upsert merge (q08) doesn't cover: inserts, updates, AND
# tombstones folded onto a base snapshot, latest sequence number per
# key wins. The change relation is synthesized deterministically from
# orders in both engines. Shape: one union + one per-key window —
# the bucket-scoped merge (sources/merge.py) is the write path; this
# is the declarative semantics contract.

# The Debezium-shaped change-log fixture (base snapshot + I/U/D
# changes), shared by q96 (latest-wins apply) and q100 (SCD Type-2
# historization, plans/platform.py).
CDC_LOG_CTE = """base AS (
    SELECT o_orderkey AS k,
           CAST(floor(o_totalprice * 100) AS BIGINT) AS qp,
           0 AS seq, 'I' AS op
    FROM orders WHERE o_orderkey % 5 <> 4
),
cdc AS (
    SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) * 2 AS BIGINT) AS qp,
           1 AS seq, 'U' AS op
    FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100) AS BIGINT) AS qp,
           1 AS seq, 'I' AS op
    FROM orders WHERE o_orderkey % 5 = 4
    UNION ALL
    SELECT o_orderkey AS k, CAST(0 AS BIGINT) AS qp, 2 AS seq, 'D' AS op
    FROM orders WHERE o_orderkey % 7 = 0
),
log AS (SELECT * FROM base UNION ALL SELECT * FROM cdc)"""

ORACLE["q96_cdc_apply"] = f"""
WITH {CDC_LOG_CTE},
latest AS (
    -- a key can carry two seq-1 changes (the U and I rules overlap on
    -- k % 15 = 9): the op tiebreak makes "latest" deterministic in
    -- both engines
    SELECT k, qp, op,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC, op) AS rn
    FROM log
),
final AS (SELECT k, qp FROM latest WHERE rn = 1 AND op <> 'D')
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(qp) AS BIGINT) AS sum_qprice,
       md5(string_agg(CAST(k AS VARCHAR), ' ' ORDER BY k)) AS keys_md5
FROM final
"""


def cdc_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, qp, seq, op) — the Spark twin of CDC_LOG_CTE: the base
    snapshot plus the synthesized I/U/D change feed, shared by q96,
    q100 (SCD2) and q129 (PIT probe), plans/platform.py+evalsuite.py.

    ONE scan of the fact: each order row emits its change events as an
    array of conditional structs exploded inline (null entries dropped
    by a plain post-explode filter — codegen-friendly, not an
    interpreted HOF). The previous form unioned four filtered scans
    over a persisted copy of the fact; a fact-sized persist is a
    non-starter at 100 TB and the 4x scan multiplies I/O — the oracle
    CTE keeps the UNION ALL form (DuckDB reads the parquet once per
    branch from page cache; results are identical, parity-pinned)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("qp0"),
    )
    ev = F.array(
        F.when(
            F.col("k") % 5 != 4,
            F.struct(
                F.col("qp0").alias("qp"),
                F.lit(0).alias("seq"),
                F.lit("I").alias("op"),
            ),
        ),
        F.when(
            F.col("k") % 3 == 0,
            F.struct(
                (F.col("qp0") * 2).alias("qp"),
                F.lit(1).alias("seq"),
                F.lit("U").alias("op"),
            ),
        ),
        F.when(
            F.col("k") % 5 == 4,
            F.struct(
                F.col("qp0").alias("qp"),
                F.lit(1).alias("seq"),
                F.lit("I").alias("op"),
            ),
        ),
        F.when(
            F.col("k") % 7 == 0,
            F.struct(
                F.lit(0).cast("bigint").alias("qp"),
                F.lit(2).alias("seq"),
                F.lit("D").alias("op"),
            ),
        ),
    )
    return (
        o.select("k", F.explode(ev).alias("e"))
        .filter(F.col("e").isNotNull())
        .select("k", "e.qp", "e.seq", "e.op")
    )


@_q("q96_cdc_apply")
def q96(spark: SparkSession, sf_dir: str) -> DataFrame:
    log = cdc_log(spark, sf_dir)
    # op tiebreak: the U and I rules overlap on k % 15 = 9 at seq 1
    w = Window.partitionBy("k").orderBy(F.col("seq").desc(), "op")
    final = (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .withColumn("ks", F.col("k").cast("string"))
    )
    return final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("qp").cast("bigint").alias("sum_qprice"),
        _md5_ordered("ks", "k").alias("keys_md5"),
    ).select("n_rows", "sum_qprice", "keys_md5")


# --------------------------------------------------------------------------
# q97 hard-negative mining — contrastive-training data prep: for each
# anchor vector, the nearest SAME-label vector (positive) and the
# nearest DIFFERENT-label vector (hard negative) by exact quantized
# squared-L2 (deterministic ties by candidate id). Brute-force over
# the anchor subset here (the oracle-exact tier); at 100 TB the
# candidate set comes from the IVF/LSH retrieval path
# (operators/similarity) exactly like q23 -> q27/q35.

_Q97_ANCHORS = 40

ORACLE["q97_hard_negatives"] = f"""
WITH comp AS (
    SELECT vec_id, label, i AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
    FROM embeddings, range(1, 65) t(i)
),
d AS (
    SELECT a.vec_id AS anchor, b.vec_id AS cand,
           ANY_VALUE(a.label) AS a_label, ANY_VALUE(b.label) AS b_label,
           SUM((a.qv - b.qv) * (a.qv - b.qv)) AS d2
    FROM comp a JOIN comp b ON a.pos = b.pos AND a.vec_id <> b.vec_id
    WHERE a.vec_id < {_Q97_ANCHORS}
    GROUP BY 1, 2
),
pos_rk AS (
    SELECT anchor, cand, d2,
           ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY d2, cand) AS rn
    FROM d WHERE a_label = b_label
),
neg_rk AS (
    SELECT anchor, cand, d2,
           ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY d2, cand) AS rn
    FROM d WHERE a_label <> b_label
)
SELECT p.anchor AS vec_id,
       CAST(p.cand AS BIGINT) AS pos_id, CAST(p.d2 AS BIGINT) AS pos_d2,
       CAST(n.cand AS BIGINT) AS neg_id, CAST(n.d2 AS BIGINT) AS neg_d2
FROM pos_rk p JOIN neg_rk n ON p.anchor = n.anchor
WHERE p.rn = 1 AND n.rn = 1
ORDER BY vec_id
"""


def _q97_dist(spark: SparkSession, sf_dir: str, anchor_pred) -> DataFrame:
    """(anchor, cand, a_label, b_label, d2) exact quantized distances
    from anchors (anchor_pred over vec_id) to every other vector.

    Shape: the bounded anchor set (quantized BIGINT arrays) broadcasts
    and the corpus streams past it ONCE — the squared distance is an
    in-row zip_with/aggregate fold (64 integer ops), so the relation
    is |anchors| x |corpus| rows, never the 64x-exploded (pos-keyed)
    form. The broadcast-small cross join is the sanctioned BNLJ shape
    (universal-invariant test); exact BIGINT arithmetic keeps both
    engines bit-identical. 20x smoke: 48/49 -> 14/19.5 s."""
    qv = F.expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", qv.alias("qv")
    )
    a = emb.filter(anchor_pred(F.col("vec_id"))).select(
        F.col("vec_id").alias("anchor"),
        F.col("label").alias("a_label"),
        F.col("qv").alias("aq"),
    )
    b = emb.select(
        F.col("vec_id").alias("cand"),
        F.col("label").alias("b_label"),
        F.col("qv").alias("bq"),
    )
    d2 = F.expr(
        "aggregate(zip_with(aq, bq, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"
    )
    return (
        b.crossJoin(F.broadcast(a))
        .filter(F.col("anchor") != F.col("cand"))
        .select("anchor", "cand", "a_label", "b_label", d2.alias("d2"))
    )


@_q("q97_hard_negatives")
def q97(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _q97_dist(spark, sf_dir, lambda v: v < _Q97_ANCHORS).persist()
    wp = Window.partitionBy("anchor").orderBy("d2", "cand")
    pos = (
        d.filter(F.col("a_label") == F.col("b_label"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            F.col("anchor").alias("vec_id"),
            F.col("cand").cast("bigint").alias("pos_id"),
            F.col("d2").cast("bigint").alias("pos_d2"),
        )
    )
    neg = (
        d.filter(F.col("a_label") != F.col("b_label"))
        .withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select(
            F.col("anchor").alias("vec_id"),
            F.col("cand").cast("bigint").alias("neg_id"),
            F.col("d2").cast("bigint").alias("neg_d2"),
        )
    )
    return pos.join(neg, "vec_id").orderBy("vec_id")


# --------------------------------------------------------------------------
# q98 kNN label-disagreement — Confident-Learning-shaped label-noise
# audit: for each anchor, do its k nearest neighbors (exact quantized
# distances, deterministic ties) agree with its own label? The
# neighbor-majority label uses (count desc, label asc) ties. Same
# exact tier / retrieval-path split as q97.

_Q98_K = 5
# anchor sampling: label audits run on a sample by design. The sample
# must be SIZE-BOUNDED, not rate-bounded: a pure modulo rule keeps
# 1/29 of vectors, so the exact brute-force tier's anchors x corpus
# cost would grow QUADRATICALLY with the corpus — the cap keeps the
# anchor set constant (like q97's fixed anchor range), so the exact
# tier stays linear; the full-corpus audit is the LSH/IVF-retrieval
# path.
_Q98_MOD = 29
_Q98_MAX_ANCHOR = 1600

ORACLE["q98_knn_label_disagreement"] = f"""
WITH comp AS (
    SELECT vec_id, label, i AS pos,
           CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT) AS qv
    FROM embeddings, range(1, 65) t(i)
),
d AS (
    SELECT a.vec_id AS anchor, b.vec_id AS cand,
           ANY_VALUE(a.label) AS a_label, ANY_VALUE(b.label) AS b_label,
           SUM((a.qv - b.qv) * (a.qv - b.qv)) AS d2
    FROM comp a JOIN comp b ON a.pos = b.pos AND a.vec_id <> b.vec_id
    WHERE a.vec_id % {_Q98_MOD} = 0 AND a.vec_id < {_Q98_MAX_ANCHOR}
    GROUP BY 1, 2
),
knn AS (
    SELECT anchor, a_label, b_label,
           ROW_NUMBER() OVER (PARTITION BY anchor ORDER BY d2, cand) AS rn
    FROM d
),
votes AS (
    SELECT anchor, ANY_VALUE(a_label) AS own_label, b_label,
           COUNT(*) AS n_votes
    FROM knn WHERE rn <= {_Q98_K}
    GROUP BY anchor, b_label
),
maj AS (
    SELECT anchor, own_label, b_label AS maj_label, n_votes,
           ROW_NUMBER() OVER (PARTITION BY anchor
                              ORDER BY n_votes DESC, b_label) AS mr
    FROM votes
),
agree AS (
    SELECT anchor, CAST(COALESCE(SUM(CASE WHEN b_label = own_label
                                          THEN n_votes END), 0) AS BIGINT)
        AS n_agree
    FROM votes GROUP BY anchor, own_label
)
SELECT m.anchor AS vec_id,
       CAST(m.own_label AS INT) AS own_label,
       CAST(m.maj_label AS INT) AS maj_label,
       a.n_agree,
       CAST(m.maj_label <> m.own_label AS INT) AS disagree
FROM maj m JOIN agree a ON m.anchor = a.anchor
WHERE m.mr = 1
ORDER BY vec_id
"""


@_q("q98_knn_label_disagreement")
def q98(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _q97_dist(
        spark, sf_dir, lambda v: (v % _Q98_MOD == 0) & (v < _Q98_MAX_ANCHOR)
    )
    wk = Window.partitionBy("anchor").orderBy("d2", "cand")
    knn = (
        d.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _Q98_K)
        .select("anchor", "a_label", "b_label")
        .persist()
    )
    votes = knn.groupBy("anchor", "b_label").agg(
        F.first("a_label").alias("own_label"),
        F.count(F.lit(1)).alias("n_votes"),
    )
    wm = Window.partitionBy("anchor").orderBy(
        F.col("n_votes").desc(), F.col("b_label")
    )
    maj = (
        votes.withColumn("mr", F.row_number().over(wm))
        .filter(F.col("mr") == 1)
        .select("anchor", "own_label", F.col("b_label").alias("maj_label"))
    )
    agree = votes.groupBy("anchor").agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("b_label") == F.col("own_label"), F.col("n_votes")
                )
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n_agree")
    )
    return (
        maj.join(agree, "anchor")
        .select(
            F.col("anchor").alias("vec_id"),
            F.col("own_label").cast("int").alias("own_label"),
            F.col("maj_label").cast("int").alias("maj_label"),
            "n_agree",
            (F.col("maj_label") != F.col("own_label")).cast("int").alias("disagree"),
        )
        .orderBy("vec_id")
    )
