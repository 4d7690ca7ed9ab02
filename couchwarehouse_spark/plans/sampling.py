"""Training-data curation operators: deterministic splits, stratified
sampling, benchmark decontamination, cross-split leakage detection.

These are the dataset-assembly steps an LLM training pipeline runs
after dedup (plans.dedup) and quality scoring (plans.text): assign
every document to train/val/test REPRODUCIBLY, draw deterministic
stratified samples for eval, check the corpus for verbatim benchmark
contamination, and prove near-duplicates don't straddle split
boundaries (leakage). All pure DataFrame ops, all DuckDB-oracle-backed.

Scale stance: split assignment and sampling are projections + one
window/agg on low-cardinality strata — no driver participation, no
skew (md5 buckets are uniform). Decontamination is an equi-join on
shingle strings with the (small) benchmark side broadcast — the shape
survives any corpus size because the benchmark set, not the corpus,
bounds the build side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from couchwarehouse_spark.catalog import load_table
from couchwarehouse_spark.plans.dedup import FINGERPRINT_SQL, fingerprint_col
from couchwarehouse_spark.plans.registry import e2e_scratch_dir, query, scoped_persist
from couchwarehouse_spark.plans.sizing import data_width

TRAIN_PCT = 80  # buckets 0-79 → train
VAL_PCT = 10  # buckets 80-89 → val; 90-99 → test
SAMPLE_K = 20  # stratified sample size per stratum
DECON_NGRAM = 4  # word n-gram length for contamination matching
BENCH_MOD = 50  # doc_id % 50 == 0 plays the "benchmark suite" role


def _hash_bucket(id_col, mod: int, salt: str = ""):
    """Deterministic uniform bucket in [0, mod) from the document id.

    First 8 hex chars of md5 → integer → mod: reproducible across
    engines and runs (unlike ``rand()``/``TABLESAMPLE``), uniform
    (unlike ``id % mod`` when ids carry arrival order), and stable
    under repartitioning — the property a training split must have so
    that re-running the pipeline never moves a document across splits.

    ``salt`` namespaces the hash PER PURPOSE: two gates drawn from the
    same md5 bits are perfectly correlated (with mod 100 | mod 10⁴,
    ``bucket10k < r`` directly constrains ``bucket100``), so an
    unsalted resample gate would e.g. land every kept doc of a heavily
    downsampled stratum in the 'train' split. One definition here —
    drift between the Spark and SQL forms of this expression breaks
    every oracle downstream, so neither is ever re-implemented inline.
    """
    key = F.concat(F.lit(salt), id_col.cast("string")) if salt else id_col.cast("string")
    return F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long") % mod


def _hash_bucket_sql(mod: int, salt: str = "") -> str:
    key = f"'{salt}' || CAST(doc_id AS VARCHAR)" if salt else "CAST(doc_id AS VARCHAR)"
    return f"CAST(('0x' || substr(md5({key}), 1, 8)) AS BIGINT) % {mod}"


def _split_bucket(id_col):
    return _hash_bucket(id_col, 100)


def _split_label(bucket):
    return (
        F.when(bucket < TRAIN_PCT, "train")
        .when(bucket < TRAIN_PCT + VAL_PCT, "val")
        .otherwise("test")
    )


_SPLIT_SQL = _hash_bucket_sql(100)
_LABEL_SQL = (
    f"CASE WHEN {_SPLIT_SQL} < {TRAIN_PCT} THEN 'train' "
    f"WHEN {_SPLIT_SQL} < {TRAIN_PCT + VAL_PCT} THEN 'val' ELSE 'test' END"
)


@query(
    "deterministic_split",
    oracle=f"""
    SELECT lang,
           {_LABEL_SQL}                    AS split,
           count(*)                        AS n_docs,
           CAST(sum(n_chars) AS BIGINT)    AS total_chars
    FROM documents
    GROUP BY lang, 2
    """,
)
def deterministic_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-based train/val/test split census per language.

    80/10/10 by md5 bucket (see ``_split_bucket``). The census per
    (lang, split) is what a pipeline materializes to audit stratum
    balance before training. One projection + one hash aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            _split_label(_split_bucket(F.col("doc_id"))).alias("split"),
            "n_chars",
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


@query(
    "stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, sample_rank
    FROM (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR))) AS sample_rank
      FROM documents
    )
    WHERE sample_rank <= {SAMPLE_K}
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: K docs per language, chosen by
    md5 order — a reproducible "random" draw (same K docs every run,
    any cluster size), the property eval-set construction needs.

    Scale: one window over the stratum key. Strata are few, so at
    extreme scale swap ``row_number`` for a per-stratum rank cutoff
    computed from ``approxQuantile`` on the hash to avoid one giant
    window partition per stratum; semantics identical.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")))
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= SAMPLE_K)
    )


def _shingles_n(toks, n: int):
    """Word n-gram shingles of a token array (1-based indexing)."""
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(1))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + j) for j in range(n)]
        ),
    )


@query(
    "benchmark_decontamination",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
    ),
    sh AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(w) - {DECON_NGRAM - 2}),
               i -> array_to_string(list_slice(w, i, i + {DECON_NGRAM - 1}), ' '))) AS s
      FROM t WHERE len(w) >= {DECON_NGRAM}
    ),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    cont AS (
      SELECT DISTINCT doc_id, lang FROM sh
      WHERE doc_id % {BENCH_MOD} <> 0 AND s IN (SELECT s FROM bench)
    )
    SELECT c.lang,
           c.n_corpus_docs,
           CAST(coalesce(k.n, 0) AS BIGINT) AS n_contaminated
    FROM (SELECT lang, count(*) AS n_corpus_docs FROM documents
          WHERE doc_id % {BENCH_MOD} <> 0 GROUP BY lang) c
    LEFT JOIN (SELECT lang, count(*) AS n FROM cont GROUP BY lang) k
      ON c.lang = k.lang
    """,
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination scan: corpus documents sharing any
    verbatim word-{4}-gram with a held-out benchmark set (here, the
    ``doc_id % {50}`` slice standing in for an eval suite).

    The shape every decontamination pass uses (public practice, e.g.
    GPT-2/3 and Dolma reports): shingle both sides, equi-join on the
    shingle, flag corpus docs with any hit. Scale: the benchmark side
    is distinct-shingled and BROADCAST — corpus size never enters the
    shuffle; the corpus side streams map-side through the hash join.
    """
    # Compute-dense (per-row shingle explosion): spread across cores —
    # one small parquet file would otherwise run as a single task.
    d = load_table(spark, sf_dir, "documents").repartition(
        data_width(spark, sf_dir, "documents")
    )
    toks = F.split("text", " ")
    sh = (
        d.filter(F.size(toks) >= DECON_NGRAM)
        .select(
            "doc_id",
            "lang",
            F.explode(_shingles_n(toks, DECON_NGRAM)).alias("s"),
        )
    )
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_sh = sh.filter(is_bench).select("s").distinct()
    contaminated = (
        sh.filter(~is_bench)
        .join(F.broadcast(bench_sh), "s", "left_semi")
        .select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
    )
    totals = (
        d.filter(~is_bench).groupBy("lang").agg(F.count("*").alias("n_corpus_docs"))
    )
    return totals.join(contaminated, "lang", "left").select(
        "lang",
        "n_corpus_docs",
        F.coalesce(F.col("n"), F.lit(0)).alias("n_contaminated"),
    )


@query(
    "split_leakage_check",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             {_LABEL_SQL} AS split,
             {FINGERPRINT_SQL} AS fingerprint
      FROM documents
    ),
    leaky AS (
      SELECT fingerprint, count(*) AS n_docs
      FROM fp GROUP BY fingerprint
      HAVING count(DISTINCT split) > 1
    )
    SELECT count(*)                          AS leaky_fingerprints,
           CAST(coalesce(sum(n_docs), 0) AS BIGINT) AS docs_affected
    FROM leaky
    """,
)
def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit: near-dup clusters (same winnowing
    fingerprint — ``dedup.fingerprint_col``, the SAME definition ``exact_dedup_canonical`` clusters on) that straddle split
    boundaries, i.e. a test document whose near-duplicate sits in
    train. The check a split must pass before the split is trusted;
    the fix is assigning splits by fingerprint instead of doc_id.

    Scale: fingerprint + split are projections; the audit is one hash
    aggregate on the fingerprint. Same shuffle as exact dedup.
    """
    d = load_table(spark, sf_dir, "documents").repartition(
        data_width(spark, sf_dir, "documents")
    )
    fp = d.select(
        fingerprint_col().alias("fingerprint"),
        _split_label(_split_bucket(F.col("doc_id"))).alias("split"),
    )
    leaky = (
        fp.groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("split").alias("n_splits"),
        )
        .filter(F.col("n_splits") > 1)
    )
    return leaky.agg(
        F.count("*").alias("leaky_fingerprints"),
        F.coalesce(F.sum("n_docs"), F.lit(0)).alias("docs_affected"),
    )


CTX_WINDOW = 512  # tokens per training context window (packing target)


@query(
    "sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len(string_split(text, ' ')) AS n_tok,
             sum(len(string_split(text, ' ')))
               OVER (PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR))
                     ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    )
    SELECT lang,
           CAST(sum(n_tok) AS BIGINT)                       AS total_tokens,
           CAST(ceil(sum(n_tok) / {CTX_WINDOW}.0) AS BIGINT) AS n_windows,
           CAST(sum(CASE WHEN (cum - n_tok) // {CTX_WINDOW} <> (cum - 1) // {CTX_WINDOW}
                         THEN 1 ELSE 0 END) AS BIGINT)       AS n_straddling
    FROM t
    GROUP BY lang
    """,
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing audit — the standard LM pretraining
    batching step (concatenate the shuffled document stream, slice
    into fixed context windows): per language, how many windows the
    corpus fills and how many documents straddle a window boundary
    (straddlers lose coherence; packing-efficiency work minimizes
    them).

    Stream order is the md5 shuffle (same determinism argument as
    ``stratified_sample``); a doc straddles when its first and last
    token fall in different windows.

    Scale: the naive shape — ``sum() OVER (PARTITION BY lang ORDER BY
    h)`` — serializes each language onto ONE reducer (|langs| ≈ 10
    tasks for the whole corpus). Instead, a distributed two-pass
    prefix sum: (1) range-partition the stream by (lang, h) so
    partition-id order IS stream order, (2) aggregate per-partition
    per-lang subtotals (≤ P×|langs| rows), turn them into exclusive
    offsets with a window over that TINY table, broadcast them back,
    (3) local running sum within each (partition, lang) slice + offset
    = the exact global running sum. Parallelism now scales with the
    partition count, not the language count; identical results (the
    oracle below is unchanged).
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    t = d.select(
        "lang",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        n_tok.alias("n_tok"),
    )
    # Persisted so pass 1 and pass 2 see the SAME range partitioning
    # (boundaries come from sampling; two independent executions could
    # legally draw different cuts).
    parts = scoped_persist(
        t.repartitionByRange(data_width(spark, sf_dir, "documents"), "lang", "h")
        .withColumn("pid", F.spark_partition_id())
    )
    psums = parts.groupBy("pid", "lang").agg(F.sum("n_tok").alias("psum"))
    w_off = (
        Window.partitionBy("lang")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = psums.select(
        "pid", "lang", F.coalesce(F.sum("psum").over(w_off), F.lit(0)).alias("off")
    )
    w_loc = (
        Window.partitionBy("pid", "lang")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = parts.join(F.broadcast(offsets), ["pid", "lang"]).withColumn(
        "cum", F.sum("n_tok").over(w_loc) + F.col("off")
    )
    straddles = (
        ((F.col("cum") - F.col("n_tok")) / CTX_WINDOW).cast("long")
        != ((F.col("cum") - 1) / CTX_WINDOW).cast("long")
    ).cast("long")
    return t.groupBy("lang").agg(
        F.sum("n_tok").alias("total_tokens"),
        F.ceil(F.sum("n_tok") / float(CTX_WINDOW)).alias("n_windows"),
        F.sum(straddles).alias("n_straddling"),
    )


MIN_CHARS = 200  # funnel stage 1: minimum document length
MIN_TOKENS = 40  # funnel stage 2: minimum whitespace token count
MAX_DUP_TOKEN_RATIO = 0.5  # stage 3: distinct/total token ratio floor


@query(
    "quality_filter_funnel",
    oracle=f"""
    WITH t AS (
      SELECT source,
             n_chars >= {MIN_CHARS}                                   AS p1,
             len(string_split(text, ' ')) >= {MIN_TOKENS}             AS p2,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) >= {MAX_DUP_TOKEN_RATIO} AS p3
      FROM documents
    )
    SELECT source,
           count(*)                                             AS n_docs,
           CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT)  AS pass_length,
           CAST(sum(CASE WHEN p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS pass_tokens,
           CAST(sum(CASE WHEN p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM t
    GROUP BY source
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel per source: survivors after each
    cumulative filter stage (length → token count → lexical
    diversity), the audit table a corpus-cleaning pipeline publishes
    so each stage's cost is visible (RefinedWeb/Dolma-style reporting,
    public practice).

    All three predicates are pure projections; the funnel is one hash
    aggregate of conjunction flags — conditional sums share the same
    partial-aggregation path as any SUM.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    p1 = F.col("n_chars") >= MIN_CHARS
    p2 = F.size(toks) >= MIN_TOKENS
    p3 = (
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
        >= MAX_DUP_TOKEN_RATIO
    )
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return d.select("source", p1.alias("p1"), p2.alias("p2"), p3.alias("p3")).groupBy(
        "source"
    ).agg(
        F.count("*").alias("n_docs"),
        flag(F.col("p1")).alias("pass_length"),
        flag(F.col("p1") & F.col("p2")).alias("pass_tokens"),
        flag(F.col("p1") & F.col("p2") & F.col("p3")).alias("pass_all"),
    )


RESAMPLE_BP = 10_000  # basis-point resolution of the keep-rate hash gate
# Salted: see _hash_bucket — unsalted, this gate would be perfectly
# correlated with the train/val/test split buckets.
RESAMPLE_SALT = "resample:"
_BUCKET_10K_SQL = _hash_bucket_sql(RESAMPLE_BP, RESAMPLE_SALT)


@query(
    "mixture_resample_counts",
    oracle=f"""
    WITH counts AS (
      SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ),
    mn AS (SELECT min(n_docs) AS m FROM counts),
    rates AS (
      SELECT lang, n_docs,
             CAST(floor(mn.m * {RESAMPLE_BP}.0 / n_docs) AS BIGINT) AS rate_bp
      FROM counts CROSS JOIN mn
    )
    SELECT d.lang,
           r.n_docs,
           r.rate_bp,
           CAST(sum(CASE WHEN {_BUCKET_10K_SQL} < r.rate_bp THEN 1 ELSE 0 END)
                AS BIGINT) AS kept_docs
    FROM documents d JOIN rates r USING (lang)
    GROUP BY d.lang, r.n_docs, r.rate_bp
    """,
)
def mixture_resample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mixture resampling (sampling/X+): downsample every
    language to the SMALLEST language's size (uniform target mixture)
    via a hash gate — keep a doc iff its md5 bucket (of {RESAMPLE_BP})
    falls below the language's integer keep-rate. The reweighting step
    training pipelines run after measuring ``domain_mixture_weights``;
    hash-gated (not ``rand()``) so re-running the pipeline keeps
    exactly the same documents.

    The keep-rate is ``floor(m·10⁴/n)`` with an EXPLICIT floor in both
    lanes: DuckDB's ``/`` yields a double whose plain BIGINT cast
    rounds-to-nearest while Spark's cast truncates — floor is the one
    binning both engines define identically (same reasoning as the
    int8 quantizer). Scale: one aggregate for per-stratum counts
    (broadcast back), then one projection + aggregate over the corpus
    — the gate never shuffles the data, and MATERIALIZING the
    resample is the same predicate as a WHERE clause.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    mn = counts.agg(F.min("n_docs").alias("m"))
    rates = counts.crossJoin(F.broadcast(mn)).select(
        "lang",
        "n_docs",
        F.floor(F.col("m") * float(RESAMPLE_BP) / F.col("n_docs")).alias("rate_bp"),
    )
    bucket = _hash_bucket(F.col("doc_id"), RESAMPLE_BP, RESAMPLE_SALT)
    return (
        d.select("lang", bucket.alias("_b"))
        .join(F.broadcast(rates), "lang")
        .groupBy("lang", "n_docs", "rate_bp")
        .agg(F.sum(F.when(F.col("_b") < F.col("rate_bp"), 1).otherwise(0)).alias("kept_docs"))
    )


@query(
    "corpus_build_pipeline",
    oracle=f"""
    WITH q AS (
      SELECT * FROM documents
      WHERE n_chars >= {MIN_CHARS}
        AND len(string_split(text, ' ')) >= {MIN_TOKENS}
    ),
    fp AS (SELECT doc_id, {{fingerprint}} AS f FROM q),
    canon AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
    kept AS (SELECT q.* FROM q JOIN canon USING (doc_id))
    SELECT lang,
           {{label}}                                             AS split,
           count(*)                                              AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT)     AS total_tokens
    FROM kept GROUP BY lang, 2
    """.replace("{fingerprint}", FINGERPRINT_SQL).replace("{label}", _LABEL_SQL),
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus build (X+ capstone): quality gate →
    canonical content dedup (keep min-id per winnowing fingerprint) →
    deterministic split assignment → per-(lang, split) doc/token
    census — the whole dataset-assembly chain as ONE oracle-backed
    composition of the components each proved alone (quality_filter_
    funnel, exact_dedup_canonical, deterministic_split). This is the
    query a user runs to ship a training corpus, and the oracle never
    sees any intermediate.

    Scale: the quality gate is a pushed filter; survivor selection is
    a fingerprint-keyed aggregate (word-count shape) whose canonical
    id set joins back UNHINTED on doc_id (AQE broadcasts it while the
    near-dup survivor set fits, shuffles beyond); the census is a
    low-cardinality hash aggregate. No window over the corpus, no
    driver participation.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    q = d.filter(
        (F.col("n_chars") >= MIN_CHARS) & (F.size(toks) >= MIN_TOKENS)
    )
    # One small parquet file scans as ONE task; widen before the
    # compute-dense winnowing fingerprints so they run at session
    # parallelism (the persisted frame then serves both consumers
    # already distributed).
    q = q.repartition(data_width(spark, sf_dir, "documents"))
    q = scoped_persist(q)  # feeds fingerprinting AND the canonical join-back
    canon = (
        q.select("doc_id", fingerprint_col().alias("f"))
        .groupBy("f")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    kept = q.join(canon, "doc_id", "left_semi")
    return (
        kept.select(
            "lang",
            _split_label(_split_bucket(F.col("doc_id"))).alias("split"),
            F.size(toks).alias("_n_tok"),
        )
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_n_tok").cast("long").alias("total_tokens"),
        )
    )


@query(
    "dataset_card",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, source, n_chars,
             len(string_split(text, ' ')) AS n_tok,
             {FINGERPRINT_SQL} AS fingerprint,
             n_chars >= {MIN_CHARS}
               AND len(string_split(text, ' ')) >= {MIN_TOKENS} AS passes_quality
      FROM documents
    )
    SELECT count(*)                                   AS n_docs,
           CAST(sum(n_tok) AS BIGINT)                 AS n_tokens,
           count(DISTINCT lang)                       AS n_langs,
           count(DISTINCT source)                     AS n_sources,
           count(DISTINCT fingerprint)                AS n_unique_contents,
           count(*) - count(DISTINCT fingerprint)     AS n_exact_dups,
           round((count(*) - count(DISTINCT fingerprint)) * 1.0
                 / count(*), 6)                       AS dup_rate,
           CAST(count(*) FILTER (passes_quality) AS BIGINT) AS n_quality_pass,
           round(count(*) FILTER (passes_quality) * 1.0
                 / count(*), 6)                       AS quality_pass_rate,
           min(n_tok)                                 AS min_tokens,
           max(n_tok)                                 AS max_tokens
    FROM base
    """,
)
def dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics in ONE row (X+ capstone): the release
    numbers a corpus ships with — document/token counts, language and
    source diversity, content-fingerprint duplication rate, and the
    quality-gate pass rate — composed from the SAME definitions the
    individual audits certify (winnowing fingerprint from the dedup
    family, MIN_CHARS/MIN_TOKENS from the quality funnel), so the
    card can never disagree with the pipeline that produced it.

    Scale: a single pass over the corpus — one projection computing
    token counts / fingerprints / the gate, then one global aggregate
    whose exact distincts expand to two-level partial aggregates.
    Integer counts + two final divisions; no joins, no windows.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "lang",
        "source",
        F.size(toks).alias("n_tok"),
        fingerprint_col().alias("fingerprint"),
        (
            (F.col("n_chars") >= MIN_CHARS) & (F.size(toks) >= MIN_TOKENS)
        ).alias("passes_quality"),
    )
    n_dups = F.count("*") - F.countDistinct("fingerprint")
    n_pass = F.count_if(F.col("passes_quality"))
    return base.agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("fingerprint").alias("n_unique_contents"),
        n_dups.alias("n_exact_dups"),
        F.round(n_dups * F.lit(1.0) / F.count("*"), 6).alias("dup_rate"),
        n_pass.cast("long").alias("n_quality_pass"),
        F.round(n_pass * F.lit(1.0) / F.count("*"), 6).alias("quality_pass_rate"),
        F.min("n_tok").alias("min_tokens"),
        F.max("n_tok").alias("max_tokens"),
    )


SHUFFLE_SEED = "epoch0"  # seed string folded into the shuffle hash
SHUFFLE_HEAD = 25  # rows of the shuffled order the entry materializes


@query(
    "seeded_global_shuffle",
    oracle=f"""
    SELECT doc_id, source,
           md5(concat('{SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR))) AS shuffle_key,
           row_number() OVER (
             ORDER BY md5(concat('{SHUFFLE_SEED}:', CAST(doc_id AS VARCHAR))), doc_id
           ) AS position
    FROM documents
    ORDER BY position
    LIMIT {SHUFFLE_HEAD}
    """,
)
def seeded_global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle (dataset assembly): the training
    order is ORDER BY md5(seed || doc_id) — reproducible across runs,
    engines, and partitionings (rand() is none of those), re-seedable
    per epoch by changing the seed string. The entry materializes the
    first {SHUFFLE_HEAD} positions; a training run would write the
    full ordering out partitioned by position range.

    Scale: a full-order materialization would be a range-partitioned
    sort by a uniform 128-bit key (sample → range boundaries →
    per-partition sort — skew-free by construction, with positions as
    partition_offset + local rank, the two-pass prefix sum of
    sequence_packing). This HEAD entry never pays that: the top-K by
    key is TakeOrderedAndProject (per-partition heaps) and only the
    K survivors get numbered — the global row_number window runs over
    {SHUFFLE_HEAD} rows, not the corpus (pinned in plan-shape tests).
    """
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit(f"{SHUFFLE_SEED}:"), F.col("doc_id").cast("string")))
    head = (
        d.select("doc_id", "source", key.alias("shuffle_key"))
        .orderBy("shuffle_key", "doc_id")
        .limit(SHUFFLE_HEAD)
    )
    w = Window.orderBy("shuffle_key", "doc_id")  # over K rows only
    return head.withColumn("position", F.row_number().over(w))


@query(
    "temperature_sampling_weights",
    oracle="""
    WITH c AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS n,
             sum(sqrt(n_docs / CAST((SELECT sum(n_docs) FROM c) AS DOUBLE))) AS z
      FROM c
    )
    SELECT lang, n_docs,
           round(n_docs / CAST(tot.n AS DOUBLE), 6)            AS p_raw,
           round(sqrt(n_docs / CAST(tot.n AS DOUBLE)) / tot.z, 6) AS w_temp,
           round(sqrt(n_docs / CAST(tot.n AS DOUBLE)) / tot.z
                 / (n_docs / CAST(tot.n AS DOUBLE)), 6)        AS boost
    FROM c CROSS JOIN tot
    """,
)
def temperature_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language-mixture weights (sampling/splits —
    the multilingual rebalancing rule of mBERT/XLM-R): raw language
    share p_i is flattened to q_i ∝ p_i^α with α = ½, so low-resource
    languages are upsampled (boost > 1) and dominant ones damped —
    the planning numbers ``mixture_resample_counts``' hash gate then
    enforces. α = ½ keeps the exponent an IEEE ``sqrt`` (correctly
    rounded, bit-identical across engines) rather than a libm ``pow``.

    Scale: one per-lang count aggregate (map-side combined); the
    total and the normalizer Z reduce the |langs|-row count table and
    ride back as a broadcast one-row frame — the corpus is scanned
    once, nothing else is data-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    c = scoped_persist(c)  # feeds the normalizer AND the emit join
    n_row = c.agg(F.sum("n_docs").alias("n"))
    z_row = (
        c.crossJoin(F.broadcast(n_row))
        .agg(F.sum(F.sqrt(F.col("n_docs") / F.col("n").cast("double"))).alias("z"))
    )
    p = F.col("n_docs") / F.col("n").cast("double")
    q = F.sqrt(p) / F.col("z")
    return (
        c.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(z_row))
        .select(
            "lang",
            "n_docs",
            F.round(p, 6).alias("p_raw"),
            F.round(q, 6).alias("w_temp"),
            F.round(q / p, 6).alias("boost"),
        )
    )


BON_GROUP = 4  # best-of-n pool size (docs per prompt group)
REWARD_SALT = "rm1"  # reward-model version tag baked into the hash


@query(
    "best_of_n_selection",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, doc_id // {BON_GROUP} AS grp,
             CAST(('0x' || substr(md5('{REWARD_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS reward
      FROM documents
    ),
    best AS (
      SELECT grp, max_by(doc_id, reward) AS chosen_doc,
             max(reward) AS chosen_reward,
             CAST(sum(reward) AS BIGINT) AS pool_reward, count(*) AS pool_n,
             max_by(source, reward) AS source
      FROM scored GROUP BY grp
    )
    SELECT source,
           count(*)                                    AS n_groups,
           CAST(sum(chosen_reward) AS BIGINT)          AS sum_chosen_reward,
           CAST(sum(pool_reward) AS BIGINT)            AS sum_pool_reward,
           CAST(sum(pool_n) AS BIGINT)                 AS n_candidates,
           round(sum(chosen_reward) / CAST(sum(pool_reward) AS DOUBLE)
                 * sum(pool_n) / count(*), 6)          AS reward_lift
    FROM best
    GROUP BY source
    ORDER BY source
    """,
)
def best_of_n_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n (rejection sampling) harvest census (sampling — the
    RLHF/RFT data-collection step: n candidate completions per
    prompt, keep the argmax under a reward model). Prompt groups are
    consecutive doc_id blocks of BON_GROUP; the reward is a salted
    md5-derived integer — a deterministic stand-in with the exact
    join/agg shape of a real scored corpus (swap the hash for a
    model-score column and nothing else changes). Output: per-source
    group counts, integer reward mass of chosen vs pool, and the
    reward lift of selection over random draw.

    Scale: scoring is a pure projection fused into the scan; argmax
    per group is ONE hash aggregate via max_by (no window, no
    self-join — partial aggregates combine map-side); the per-source
    rollup reduces the already-|groups|-sized table. Integer rewards
    summed exactly; only the display lift is a rounded double.
    """
    d = load_table(spark, sf_dir, "documents")
    reward = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{REWARD_SALT}:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    scored = d.select(
        "doc_id",
        "source",
        F.floor(F.col("doc_id") / BON_GROUP).cast("long").alias("grp"),
        reward.alias("reward"),
    )
    best = scored.groupBy("grp").agg(
        F.max_by("doc_id", "reward").alias("chosen_doc"),
        F.max("reward").alias("chosen_reward"),
        F.sum("reward").alias("pool_reward"),
        F.count("*").alias("pool_n"),
        F.max_by("source", "reward").alias("source"),
    )
    return (
        best.groupBy("source")
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("chosen_reward").alias("sum_chosen_reward"),
            F.sum("pool_reward").alias("sum_pool_reward"),
            F.sum("pool_n").alias("n_candidates"),
            F.round(
                F.sum("chosen_reward")
                / F.sum("pool_reward").cast("double")
                * F.sum("pool_n")
                / F.count("*"),
                6,
            ).alias("reward_lift"),
        )
        .orderBy("source")
    )


@query(
    "preference_pair_harvest",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, doc_id // {BON_GROUP} AS grp, n_chars,
             CAST(('0x' || substr(md5('{REWARD_SALT}:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS reward
      FROM documents
    ),
    pairs AS (
      SELECT grp,
             max_by(doc_id, reward)  AS chosen_doc,
             min_by(doc_id, reward)  AS rejected_doc,
             max(reward) - min(reward) AS reward_margin,
             max_by(n_chars, reward) AS chosen_chars,
             min_by(n_chars, reward) AS rejected_chars,
             count(*) AS pool_n
      FROM scored GROUP BY grp
      HAVING count(*) >= 2
    )
    SELECT grp, chosen_doc, rejected_doc, reward_margin,
           chosen_chars, rejected_chars
    FROM pairs
    ORDER BY reward_margin DESC, grp
    LIMIT 30
    """,
)
def preference_pair_harvest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair mining (sampling): within each prompt
    group, emit (chosen, rejected) = (argmax, argmin) of the reward,
    with the margin — the widest-margin pairs are the highest-signal
    training pairs and surface first (a real pipeline thresholds on
    margin; length columns ride along because chosen-vs-rejected
    LENGTH bias is the standard DPO failure mode to audit before
    training). Same deterministic salted-hash reward as
    ``best_of_n_selection``.

    Scale: one hash aggregate per group (max_by/min_by — no window,
    no self-join), groups with a single candidate dropped by HAVING;
    top-30 by margin is TakeOrderedAndProject. All-integer output.
    """
    d = load_table(spark, sf_dir, "documents")
    reward = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{REWARD_SALT}:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    scored = d.select(
        "doc_id",
        "n_chars",
        F.floor(F.col("doc_id") / BON_GROUP).cast("long").alias("grp"),
        reward.alias("reward"),
    )
    return (
        scored.groupBy("grp")
        .agg(
            F.max_by("doc_id", "reward").alias("chosen_doc"),
            F.min_by("doc_id", "reward").alias("rejected_doc"),
            (F.max("reward") - F.min("reward")).alias("reward_margin"),
            F.max_by("n_chars", "reward").alias("chosen_chars"),
            F.min_by("n_chars", "reward").alias("rejected_chars"),
            F.count("*").alias("pool_n"),
        )
        .filter(F.col("pool_n") >= 2)
        .select(
            "grp",
            "chosen_doc",
            "rejected_doc",
            "reward_margin",
            "chosen_chars",
            "rejected_chars",
        )
        .orderBy(F.col("reward_margin").desc(), "grp")
        .limit(30)
    )


@query(
    "heldout_perplexity_eval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    split AS (
      SELECT *, {_SPLIT_SQL} AS bucket FROM toks
    ),
    train AS (SELECT lang, term FROM split WHERE bucket < {TRAIN_PCT}),
    test  AS (SELECT lang, term FROM split WHERE bucket >= {TRAIN_PCT + VAL_PCT}),
    lm AS (SELECT lang, term, count(*) AS c FROM train GROUP BY lang, term),
    tot AS (
      SELECT lang, CAST(sum(c) AS BIGINT) AS t, count(*) AS v
      FROM lm GROUP BY lang
    )
    SELECT test.lang,
           count(*)                               AS n_eval_tokens,
           CAST(count(*) FILTER (WHERE lm.c IS NULL) AS BIGINT)
                                                  AS n_oov_tokens,
           round(CAST(sum(CAST(round(1000000 * -ln((coalesce(lm.c, 0) + 1)
                         / CAST(tot.t + tot.v + 1 AS DOUBLE))) AS BIGINT))
                 AS DOUBLE) / 1000000 / count(*), 6)
                                                  AS avg_surprisal
    FROM test
    LEFT JOIN lm USING (lang, term)
    JOIN tot USING (lang)
    GROUP BY test.lang
    ORDER BY test.lang
    """,
)
def heldout_perplexity_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out LM evaluation harness (sampling × text — the actual
    train/eval loop shape): fit an add-1-smoothed unigram LM per
    language on the TRAIN split, score the TEST split's tokens, and
    report per-language held-out token count, OOV count, and average
    surprisal. High held-out surprisal relative to a source's
    in-sample entropy is the distribution-shift warning a data
    pipeline reads before trusting a quality-filter LM; the split
    gates reuse ``deterministic_split``'s salted-hash buckets, so the
    eval can never leak training documents (same gate = same split,
    bit-identical across engines and runs).

    Scale: the LM is a (lang, term) hash aggregate over the train
    split; scoring is a LEFT join of the test token stream against
    the LM on (lang, term) — the LM table is vocabulary-sized and
    AQE-broadcastable per language; per-language totals attach as a
    |langs|-row broadcast. -ln((c+1)/(T+V+1)) is division-then-log
    identically in both engines, then quantized to integer micro-nats
    BEFORE the per-language reduce (the ``ngram_entropy_rate`` idiom)
    so the average over the full test token stream is an associative
    integer sum — summation-order-proof at any SF.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "lang",
        _split_bucket(F.col("doc_id")).alias("bucket"),
        F.explode(F.split("text", " ")).alias("term"),
    )
    train = toks.filter(F.col("bucket") < TRAIN_PCT)
    test = toks.filter(F.col("bucket") >= TRAIN_PCT + VAL_PCT)
    lm = train.groupBy("lang", "term").agg(F.count("*").alias("c"))
    tot = lm.groupBy("lang").agg(
        F.sum("c").alias("t"), F.count("*").alias("v")
    )
    scored = (
        test.join(lm, ["lang", "term"], "left")
        .join(F.broadcast(tot), "lang")
        .select(
            "lang",
            F.col("c").isNull().alias("oov"),
            F.round(
                1_000_000
                * -F.log(
                    (F.coalesce(F.col("c"), F.lit(0)) + 1)
                    / (F.col("t") + F.col("v") + 1).cast("double")
                )
            )
            .cast("long")
            .alias("surprisal_micro"),
        )
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_eval_tokens"),
            F.count_if("oov").alias("n_oov_tokens"),
            F.round(
                F.sum("surprisal_micro").cast("double")
                / 1_000_000
                / F.count("*"),
                6,
            ).alias("avg_surprisal"),
        )
        .orderBy("lang")
    )


TOKEN_BUDGET = 10_000_000  # planned training-token budget
MAX_EPOCHS = 4  # data-constrained repetition cap (public scaling result)


@query(
    "mixture_epoch_plan",
    oracle=f"""
    WITH tok AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens
      FROM (SELECT lang, unnest(string_split(text, ' ')) FROM documents)
      GROUP BY lang
    ),
    tot AS (
      SELECT CAST(sum(n_tokens) AS BIGINT) AS n,
             sum(sqrt(n_tokens / CAST((SELECT sum(n_tokens) FROM tok) AS DOUBLE)))
               AS z
      FROM tok
    )
    SELECT lang, n_tokens,
           CAST(floor({TOKEN_BUDGET}
                      * (sqrt(n_tokens / CAST(tot.n AS DOUBLE)) / tot.z))
                AS BIGINT)                                  AS planned_tokens,
           round({TOKEN_BUDGET}
                 * (sqrt(n_tokens / CAST(tot.n AS DOUBLE)) / tot.z)
                 / n_tokens, 4)                             AS epochs,
           CAST(least(
                 CAST(floor({TOKEN_BUDGET}
                      * (sqrt(n_tokens / CAST(tot.n AS DOUBLE)) / tot.z))
                      AS BIGINT),
                 {MAX_EPOCHS} * n_tokens) AS BIGINT)        AS effective_tokens
    FROM tok CROSS JOIN tot
    ORDER BY lang
    """,
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget epoch planner (sampling — the data-constrained
    training plan): allocate a TOKEN_BUDGET across languages by the
    α=½ temperature weights, then report per language the planned
    token draw, the implied EPOCH count (planned/available), and the
    effective tokens after capping repetition at MAX_EPOCHS — the
    public data-constrained-scaling result that value decays past ~4
    epochs. The boost that ``temperature_sampling_weights`` plans in
    ratios becomes here an actionable sampling schedule in tokens.

    Scale: one word-count aggregate per language (map-side combine);
    the budget math is a projection over the |langs|-row table with
    one-row broadcast totals. sqrt not pow (bit-identical); floor
    not round for the integer token plan.
    """
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("lang", F.explode(F.split("text", " ")).alias("t"))
        .groupBy("lang")
        .agg(F.count("*").alias("n_tokens"))
    )
    tok = scoped_persist(tok)
    n_row = tok.agg(F.sum("n_tokens").alias("n"))
    z_row = (
        tok.crossJoin(F.broadcast(n_row))
        .agg(F.sum(F.sqrt(F.col("n_tokens") / F.col("n").cast("double"))).alias("z"))
    )
    w = F.sqrt(F.col("n_tokens") / F.col("n").cast("double")) / F.col("z")
    planned = F.floor(F.lit(TOKEN_BUDGET) * w).cast("long")
    return (
        tok.crossJoin(F.broadcast(n_row))
        .crossJoin(F.broadcast(z_row))
        .select(
            "lang",
            "n_tokens",
            planned.alias("planned_tokens"),
            F.round(F.lit(TOKEN_BUDGET) * w / F.col("n_tokens"), 4).alias("epochs"),
            F.least(planned, F.lit(MAX_EPOCHS) * F.col("n_tokens"))
            .cast("long")
            .alias("effective_tokens"),
        )
        .orderBy("lang")
    )


CAL_BINS = 10
CAL_SCALE = 2**32


@query(
    "score_calibration_bins",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(('0x' || substr(md5('cal:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    )
    SELECT CAST(s * {CAL_BINS} // {CAL_SCALE} AS INTEGER) AS bin,
           count(*)                           AS n,
           CAST(sum(y) AS BIGINT)             AS n_pos,
           round(sum(y) / CAST(count(*) AS DOUBLE), 6)   AS pos_rate,
           round(sum(s) / CAST(count(*) AS DOUBLE)
                 / {CAL_SCALE}, 6)                       AS avg_confidence
    FROM scored
    GROUP BY 1
    ORDER BY bin
    """,
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration / reliability table (the eval kernel
    under quality-filter models: per confidence decile, predicted
    confidence vs realized positive rate — the table ECE and a
    reliability diagram read directly). The score is the salted-hash
    stand-in this repo uses for model outputs (swap in a score
    column, nothing else changes); the label is a real column
    (lang = 'en'). Sum-of-integer scores keeps avg_confidence exact
    before the final rounded divide.

    Scale: scoring and binning are projections fused into the scan;
    the table is ONE hash aggregate over CAL_BINS groups with
    map-side combine — the cheapest possible shape for an eval that
    runs after every classifier retrain.
    """
    d = load_table(spark, sf_dir, "documents")
    s = F.conv(
        F.substring(F.md5(F.concat(F.lit("cal:"), F.col("doc_id").cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    scored = d.select(s.alias("s"), y.alias("y"))
    return (
        scored.groupBy(
            F.floor(F.col("s") * CAL_BINS / CAL_SCALE).cast("int").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("y").alias("n_pos"),
            F.round(F.sum("y") / F.count("*").cast("double"), 6).alias("pos_rate"),
            F.round(
                F.sum("s") / F.count("*").cast("double") / CAL_SCALE, 6
            ).alias("avg_confidence"),
        )
        .orderBy("bin")
    )


# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): score every raw document by the log importance
# ratio of a TARGET-domain hashed-n-gram LM over the RAW-corpus LM,
# then resample proportionally. Here the target domain is lang='en'
# (the paper's "formal text" slot); features are word bigrams hashed
# into DSIR_DIM buckets (the paper's hashed n-gram featurization).
DSIR_DIM = 128
DSIR_TOP_K = 15
_DSIR_BUCKET_SQL = (
    "CAST(('0x' || substr(md5(bg), 1, 15)) AS BIGINT) % " + str(DSIR_DIM)
)


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, lang,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
               i -> concat_ws(' ', list_extract(string_split(text, ' '), i),
                                   list_extract(string_split(text, ' '), i + 1))))
               AS bg
      FROM documents
    ),
    feat AS (SELECT doc_id, lang, {_DSIR_BUCKET_SQL} AS f FROM bg),
    tgt AS (SELECT f, count(*) AS ct FROM feat WHERE lang = 'en' GROUP BY f),
    raw AS (SELECT f, count(*) AS cr FROM feat GROUP BY f),
    tots AS (
      SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS nt,
             (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr
    ),
    w AS (
      SELECT raw.f,
             CAST(round(1000000 * (
               ln((coalesce(tgt.ct, 0) + 1) / CAST(tots.nt + {DSIR_DIM} AS DOUBLE))
               - ln((raw.cr + 1) / CAST(tots.nr + {DSIR_DIM} AS DOUBLE))
             )) AS BIGINT) AS w_micro
      FROM raw LEFT JOIN tgt USING (f) CROSS JOIN tots
    )
    SELECT feat.doc_id,
           min(feat.lang)             AS lang,
           CAST(count(*) AS BIGINT)   AS n_feats,
           round(CAST(sum(w.w_micro) AS DOUBLE) / 1000000, 6) AS dsir_logw
    FROM feat JOIN w USING (f)
    GROUP BY feat.doc_id
    ORDER BY sum(w.w_micro) DESC, feat.doc_id
    LIMIT {DSIR_TOP_K}
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (sampling): per-document log importance
    ratio log p_target(x)/p_raw(x) under add-1-smoothed hashed-bigram
    bag-of-ngrams LMs (Xie et al. 2023) — the principled
    target-domain-aware alternative to uniform sampling; weights feed
    a Gumbel-top-k / systematic resample. Top-15 most target-like
    docs.

    Exactness: each FEATURE's log-ratio is computed once from exact
    integer counts and immediately quantized to integer micro-nats
    (``round(1e6·ln ratio)``); a document's weight is then an INTEGER
    sum over its feature occurrences — no float accumulation order
    anywhere, so both engines agree exactly (ties broken by doc_id).

    Scale: two word-count-shaped aggregates build the target/raw
    feature tables (both ≤ DSIR_DIM rows after hashing — that is the
    POINT of the hashing trick); the weight table is {DSIR_DIM} rows,
    broadcast onto the doc-feature stream; the per-doc reduce is one
    hash aggregate; top-k is per-partition heaps. One corpus scan for
    the feature stream (persisted across the two LM aggregates and
    the scoring join).
    """
    from couchwarehouse_spark.plans.dedup import md5_long

    d = load_table(spark, sf_dir, "documents").repartition(
        data_width(spark, sf_dir, "documents")
    )  # one parquet file = one task; bigram hashing is compute-dense
    toks = F.split("text", " ")
    bigrams = F.transform(
        F.slice(toks, 1, F.size(toks) - 1),
        lambda t, i: F.concat_ws(" ", t, F.element_at(toks, i + 2)),
    )
    feat = scoped_persist(
        d.select(
            "doc_id",
            "lang",
            F.explode(bigrams).alias("bg"),
        ).select("doc_id", "lang", (md5_long(F.col("bg")) % DSIR_DIM).alias("f"))
    )
    tgt = feat.filter(F.col("lang") == "en").groupBy("f").agg(F.count("*").alias("ct"))
    raw = feat.groupBy("f").agg(F.count("*").alias("cr"))
    nt = tgt.agg(F.sum("ct").alias("nt"))
    nr = raw.agg(F.sum("cr").alias("nr"))
    w = (
        raw.join(tgt, "f", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select(
            "f",
            F.round(
                1_000_000
                * (
                    F.log(
                        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
                        / (F.col("nt") + DSIR_DIM).cast("double")
                    )
                    - F.log((F.col("cr") + 1) / (F.col("nr") + DSIR_DIM).cast("double"))
                )
            )
            .cast("long")
            .alias("w_micro"),
        )
    )
    return (
        feat.join(F.broadcast(w), "f")
        .groupBy("doc_id")
        .agg(
            F.min("lang").alias("lang"),
            F.count("*").alias("n_feats"),
            F.sum("w_micro").alias("w_sum"),
        )
        .orderBy(F.col("w_sum").desc(), "doc_id")
        .limit(DSIR_TOP_K)
        .select(
            "doc_id",
            "lang",
            "n_feats",
            F.round(F.col("w_sum").cast("double") / 1_000_000, 6).alias("dsir_logw"),
        )
    )


AES_SEED = "aes0"  # salt for the A-ES uniform draws
AES_K = 15  # sample size
_AES_U_SQL = (
    f"((CAST(('0x' || substr(md5('{AES_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
    "AS BIGINT) + 1) / 4294967296.0)"
)


@query(
    "weighted_sample_topk",
    oracle=f"""
    SELECT doc_id, source, n_chars AS weight,
           CAST(round(1e9 * ln({_AES_U_SQL}) / n_chars) AS BIGINT) AS key_nano
    FROM documents
    WHERE n_chars > 0
    ORDER BY key_nano DESC, doc_id
    LIMIT {AES_K}
    """,
)
def weighted_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–
    Spirakis A-ES key (2006): each row draws u ∈ (0,1] and the sample
    is the top-k by u^(1/w) — here rank-equivalently by ln(u)/w, with
    n_chars as the weight (probability-proportional-to-size, the
    standard trick for byte-budgeted corpus subsampling). One pass,
    any k, no sequential reservoir — the distributed form of weighted
    reservoir sampling.

    Determinism/exactness: u is the md5-derived uniform (the
    seeded_global_shuffle idiom — reproducible across engines, runs,
    and repartitioning); the key is quantized to integer NANO units in
    both lanes before the sort, ties broken by doc_id, so the top-k
    frontier is engine-stable.

    Scale: pure projection → TakeOrderedAndProject (per-partition
    heaps, k rows per partition cross to the driver). No shuffle, no
    window.
    """
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{AES_SEED}:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(4294967296.0)
    key = F.round(F.lit(1e9) * F.log(u) / F.col("n_chars")).cast("long")
    return (
        d.select(
            "doc_id",
            "source",
            F.col("n_chars").alias("weight"),
            key.alias("key_nano"),
        )
        .orderBy(F.col("key_nano").desc(), "doc_id")
        .limit(AES_K)
    )


NOVELTY_N = 3  # word n-gram order for the novelty/memorization audit


@query(
    "ngram_novelty_audit",
    oracle=f"""
    WITH lab AS (
      SELECT lang, string_split(text, ' ') AS t, {_LABEL_SQL} AS split
      FROM documents
    ),
    grams AS (
      SELECT lang, split,
             unnest(list_transform(
               range(1, len(t) - {NOVELTY_N} + 2),
               i -> array_to_string(t[i:i+{NOVELTY_N}-1], ' ')
             )) AS g
      FROM lab WHERE len(t) >= {NOVELTY_N}
    ),
    train AS (SELECT DISTINCT lang, g FROM grams WHERE split = 'train'),
    test AS (SELECT lang, g FROM grams WHERE split = 'test')
    SELECT test.lang,
           CAST(count(*) AS BIGINT) AS n_test_ngrams,
           CAST(sum(CASE WHEN train.g IS NULL THEN 0 ELSE 1 END) AS BIGINT)
             AS n_seen_in_train,
           round(1.0 - CAST(sum(CASE WHEN train.g IS NULL THEN 0 ELSE 1 END)
                 AS DOUBLE) / count(*), 6) AS novelty_rate
    FROM test LEFT JOIN train USING (lang, g)
    GROUP BY test.lang
    ORDER BY test.lang
    """,
)
def ngram_novelty_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train→test n-gram novelty (memorization-exposure) audit: the
    share of the test split's {NOVELTY_N}-gram OCCURRENCES never seen
    in the train split, per language — the n-gram-level refinement of
    doc-level decontamination (the memorization literature's
    'duplicated n-gram' exposure metric, cf. Lee et al. 2022; a test
    set whose n-grams are mostly present in train measures recall of
    training text, not generalization). Splits come from the SAME
    md5 hash gates as deterministic_split, so this audits the actual
    shipped split, leak-proof by construction.

    Exactness: integer occurrence counts; one division, rounded once.

    Scale: n-gram explosion → the train side collapses to DISTINCT
    (lang, gram) with map-side partials; the probe is one equi hash
    join on (lang, gram) — the heavy side stays occurrence-shaped but
    never aggregates globally; the reduce is per-lang counters.
    """
    d = load_table(spark, sf_dir, "documents")
    t = F.split(F.col("text"), " ")
    lab = d.select(
        "lang",
        t.alias("t"),
        _split_label(_split_bucket(F.col("doc_id"))).alias("split"),
    ).filter(F.size("t") >= NOVELTY_N)
    grams = lab.select(
        "lang",
        "split",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - NOVELTY_N),
                lambda i: F.concat_ws(" ", F.slice("t", i + 1, NOVELTY_N)),
            )
        ).alias("g"),
    )
    train = grams.filter(F.col("split") == "train").select("lang", "g").distinct()
    test = grams.filter(F.col("split") == "test").select("lang", "g")
    seen = F.sum(F.col("_hit").isNotNull().cast("int")).cast("long")
    return (
        test.join(train.withColumn("_hit", F.lit(1)), ["lang", "g"], "left")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_test_ngrams"),
            seen.alias("n_seen_in_train"),
            F.round(
                F.lit(1.0)
                - seen.cast("double") / F.count("*"),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("lang")
    )


WF_BUDGET_NUM, WF_BUDGET_DEN = 6, 10  # budget = 60% of corpus tokens


@query(
    "waterfill_budget_allocation",
    oracle=f"""
    WITH per AS (
      SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS x
      FROM documents GROUP BY lang
    ),
    ranked AS (
      SELECT lang, x,
             CAST(row_number() OVER (ORDER BY x, lang) AS BIGINT) AS i,
             CAST(sum(x) OVER (ORDER BY x, lang
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
             CAST(count(*) OVER () AS BIGINT) AS n,
             CAST(sum(x) OVER () AS BIGINT) AS t
      FROM per
    ),
    b AS (SELECT ({WF_BUDGET_NUM} * max(t)) // {WF_BUDGET_DEN} AS budget FROM ranked),
    istar AS (
      SELECT min(i) AS s FROM ranked, b
      WHERE b.budget - (cum - x) <= x * (n - i + 1)
    ),
    lvl AS (
      SELECT r.i AS s, b.budget - (r.cum - r.x) AS num, r.n - r.i + 1 AS den
      FROM ranked r, b, istar WHERE r.i = istar.s
    )
    SELECT r.lang, r.x AS available,
           CAST(CASE
             WHEN istar.s IS NULL OR r.i < istar.s THEN r.x
             ELSE (lvl.num // lvl.den)
                  + CASE WHEN r.i - istar.s + 1 <= lvl.num % lvl.den
                         THEN 1 ELSE 0 END
           END AS BIGINT) AS allocated,
           (istar.s IS NOT NULL AND r.i >= istar.s) AS capped
    FROM ranked r
    LEFT JOIN istar ON TRUE
    LEFT JOIN lvl ON TRUE
    ORDER BY r.lang
    """,
)
def waterfill_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling token-budget allocation across languages: spend a
    {WF_BUDGET_NUM}/{WF_BUDGET_DEN} corpus budget so small languages
    are taken whole and large ones are capped at a common level — the
    max-min-fair allocator (information theory's water-filling;
    data-mixture papers' 'cap the head, keep the tail' rule made
    exact). Σ allocated == budget BY CONSTRUCTION: the integer level
    floor(L) goes to every capped language and the remainder
    distributes one token each to the first (budget mod) capped ranks.

    Exactness: the cap rank i* is found with the CROSS-MULTIPLIED
    integer test budget − cum_{{i−1}} ≤ xᵢ·(n−i+1) (no division
    enters a comparison); allocations are integer floor-div +
    remainder. Engine-identical by construction.

    Scale: one tokenize-count aggregate (word-count shape); every
    window runs over the |langs| row table; the level attaches as a
    one-row broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).alias("x")
    )
    w = Window.orderBy("x", "lang")
    ranked = per.select(
        "lang",
        "x",
        F.row_number().over(w).cast("long").alias("i"),
        F.sum("x").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.count("*").over(Window.partitionBy()).cast("long").alias("n"),
        F.sum("x").over(Window.partitionBy()).alias("t"),
    )
    ranked = scoped_persist(ranked)
    budget = (F.lit(WF_BUDGET_NUM) * F.col("t")) / WF_BUDGET_DEN
    b = F.floor(budget).cast("long")
    cond = (b - (F.col("cum") - F.col("x"))) <= F.col("x") * (
        F.col("n") - F.col("i") + 1
    )
    head = ranked.agg(
        F.min(F.when(cond, F.col("i"))).alias("s"),
        F.max(b).alias("budget"),
    )
    lvl = (
        ranked.crossJoin(F.broadcast(head))
        .filter(F.col("i") == F.col("s"))
        .select(
            (F.col("budget") - (F.col("cum") - F.col("x"))).alias("num"),
            (F.col("n") - F.col("i") + 1).alias("den"),
        )
    )
    alloc = F.when(
        F.col("s").isNull() | (F.col("i") < F.col("s")), F.col("x")
    ).otherwise(
        F.floor(F.col("num") / F.col("den")).cast("long")
        + F.when(
            (F.col("i") - F.col("s") + 1) <= F.col("num") % F.col("den"), 1
        ).otherwise(0)
    )
    return (
        ranked.crossJoin(F.broadcast(head.select("s")))
        .crossJoin(F.broadcast(lvl))
        .select(
            "lang",
            F.col("x").alias("available"),
            alloc.cast("long").alias("allocated"),
            (F.col("s").isNotNull() & (F.col("i") >= F.col("s"))).alias("capped"),
        )
        .orderBy("lang")
    )


@query(
    "split_balance_audit",
    oracle=f"""
    WITH labeled AS (
      SELECT lang, {_LABEL_SQL} AS split FROM documents
    ),
    cells AS (
      SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs
      FROM labeled GROUP BY lang, split
    ),
    tot AS (
      SELECT lang, CAST(sum(n_docs) AS BIGINT) AS n_lang FROM cells
      GROUP BY lang
    )
    SELECT c.lang, c.split, c.n_docs,
           round(100.0 * c.n_docs / t.n_lang, 4) AS share_pp,
           round(100.0 * c.n_docs / t.n_lang
                 - CASE c.split WHEN 'train' THEN {TRAIN_PCT}
                                WHEN 'val' THEN {VAL_PCT}
                                ELSE {100 - TRAIN_PCT - VAL_PCT} END,
                 4) AS deviation_pp
    FROM cells c JOIN tot t USING (lang)
    ORDER BY c.lang, c.split
    """,
)
def split_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratification-balance audit of the deterministic split
    (sampling): per (lang, split), realized document share vs the
    designed {TRAIN_PCT}/{VAL_PCT}/{100 - TRAIN_PCT - VAL_PCT} —
    hash splits are only UNBIASED, not balanced, so small strata can
    land far from design and a per-language eval then compares models
    on whatever the hash happened to allocate (the reason stratified
    splits exist). This audit quantifies the imbalance per stratum;
    the companion ``stratified_sample`` is the fix when a stratum's
    deviation is unacceptable. Same split gate literal as
    ``deterministic_split`` — the audit can never drift from the
    split it audits.

    Exactness: cells and totals are integer counts; shares are one
    rounded division each; expected shares are integer literals.

    Scale: one (lang, split) hash aggregate with map-side combine;
    totals reduce the |langs|×3 cell table.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = _split_bucket(F.col("doc_id"))
    cells = (
        d.select("lang", _split_label(bucket).alias("split"))
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n_docs"))
    )
    cells = scoped_persist(cells)  # feeds totals AND the emit join
    tot = cells.groupBy("lang").agg(F.sum("n_docs").alias("n_lang"))
    expected = (
        F.when(F.col("split") == "train", F.lit(TRAIN_PCT))
        .when(F.col("split") == "val", F.lit(VAL_PCT))
        .otherwise(F.lit(100 - TRAIN_PCT - VAL_PCT))
    )
    share = 100.0 * F.col("n_docs") / F.col("n_lang")
    return (
        cells.join(F.broadcast(tot), "lang")
        .select(
            "lang",
            "split",
            "n_docs",
            F.round(share, 4).alias("share_pp"),
            F.round(share - expected, 4).alias("deviation_pp"),
        )
        .orderBy("lang", "split")
    )


LB_BUCKETS = [64, 128, 256, 512, 1024]  # token-length ladder (pad-to)


@query(
    "length_bucket_packing_plan",
    oracle=f"""
    WITH d AS (
      SELECT len(string_split(text, ' ')) AS n_tok FROM documents
    ),
    assigned AS (
      SELECT n_tok,
             CASE {' '.join(f"WHEN n_tok <= {b} THEN {b}" for b in LB_BUCKETS)}
                  ELSE {LB_BUCKETS[-1]} END AS bucket,
             CASE WHEN n_tok > {LB_BUCKETS[-1]} THEN 1 ELSE 0 END AS truncated
      FROM d
    )
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN truncated = 1 THEN {LB_BUCKETS[-1]}
                         ELSE n_tok END) AS BIGINT) AS used_tokens,
           CAST(sum(bucket) AS BIGINT) AS padded_tokens,
           CAST(sum(truncated) AS BIGINT) AS n_truncated,
           round(1 - CAST(sum(CASE WHEN truncated = 1 THEN {LB_BUCKETS[-1]}
                                   ELSE n_tok END) AS DOUBLE) / sum(bucket), 6)
             AS pad_waste_share
    FROM assigned
    GROUP BY bucket
    ORDER BY bucket
    """,
)
def length_bucket_packing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucket batching plan (the text twin of
    ``aspect_bucket_plan``, and the pad-to-bucket strategy every LLM
    data loader uses when full sequence packing — see
    ``sequence_packing`` — is off the table): assign each doc to the
    smallest power-of-two-ish bucket that holds it, count the padding
    each bucket burns and the docs the top bucket truncates.
    pad_waste_share per bucket is the number that decides whether to
    add a ladder rung.

    Exactness: token counts, bucket assignment (a CASE ladder), and
    both token sums are pure integers; one waste division per bucket.

    Scale: projection + 5-way CASE + hash agg on the 5-value bucket
    key — scan-bound, like every census here.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    bucket = F.when(n_tok <= LB_BUCKETS[0], LB_BUCKETS[0])
    for b in LB_BUCKETS[1:]:
        bucket = bucket.when(n_tok <= b, b)
    bucket = bucket.otherwise(LB_BUCKETS[-1])
    truncated = (n_tok > LB_BUCKETS[-1]).cast("int")
    used = F.when(truncated == 1, LB_BUCKETS[-1]).otherwise(n_tok)
    return (
        d.select(
            bucket.cast("long").alias("bucket"),
            used.cast("long").alias("used"),
            truncated.alias("truncated"),
        )
        .groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("used").cast("long").alias("used_tokens"),
            F.sum("bucket").cast("long").alias("padded_tokens"),
            F.sum("truncated").cast("long").alias("n_truncated"),
            F.round(
                1 - F.sum("used").cast("double") / F.sum("bucket"), 6
            ).alias("pad_waste_share"),
        )
        .orderBy("bucket")
    )


BT_ITERS = 3  # MM fixed-point rounds (Hunter 2004), unrolled in both lanes

_BT_BASE_CTE = f"""
    WITH scored AS MATERIALIZED (
      SELECT doc_id, source, doc_id // {BON_GROUP} AS grp,
             CAST(('0x' || substr(md5('{REWARD_SALT}:'
                   || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS reward
      FROM documents
    ),
    duels AS MATERIALIZED (
      SELECT CASE WHEN (a.reward, a.doc_id) > (b.reward, b.doc_id)
                  THEN a.source ELSE b.source END AS winner,
             CASE WHEN (a.reward, a.doc_id) > (b.reward, b.doc_id)
                  THEN b.source ELSE a.source END AS loser
      FROM scored a JOIN scored b
        ON a.grp = b.grp AND a.source < b.source
    ),
    nmat AS MATERIALIZED (
      SELECT least(winner, loser) AS i, greatest(winner, loser) AS j,
             CAST(count(*) AS BIGINT) AS n
      FROM duels GROUP BY 1, 2
    ),
    wins AS MATERIALIZED (
      SELECT winner AS p, CAST(count(*) AS BIGINT) AS w FROM duels GROUP BY 1
    ),
    players AS MATERIALIZED (
      SELECT p, coalesce(w, 0) AS w FROM (
        SELECT i AS p FROM nmat UNION SELECT j FROM nmat
      ) LEFT JOIN wins USING (p)
    ),
    edges AS MATERIALIZED (
      SELECT i AS p, j AS q, n FROM nmat
      UNION ALL SELECT j, i, n FROM nmat
    ),
    g0 AS MATERIALIZED (SELECT p, CAST(1 AS DOUBLE) AS g FROM players)
"""


def _bt_round_sql(i: int) -> str:
    prev, cur = f"g{i - 1}", f"g{i}"
    return f"""
    {cur}_raw AS MATERIALIZED (
      SELECT pl.p, pl.w /
        (CAST(sum(CAST(round(1000000000 * e.n
                / (gp.g + gq.g)) AS BIGINT)) AS DOUBLE) / 1000000000) AS g
      FROM players pl
      JOIN edges e ON e.p = pl.p
      JOIN {prev} gp ON gp.p = pl.p
      JOIN {prev} gq ON gq.p = e.q
      GROUP BY pl.p, pl.w
    ),
    {cur} AS MATERIALIZED (
      SELECT r.p, r.g * (SELECT count(*) FROM players)
             / (SELECT sum(g) FROM {cur}_raw) AS g
      FROM {cur}_raw r
    )"""


@query(
    "bradley_terry_strengths",
    oracle=_BT_BASE_CTE
    + ","
    + ",".join(_bt_round_sql(i) for i in range(1, BT_ITERS + 1))
    + f"""
    SELECT pl.p AS source, pl.w AS n_wins,
           CAST((SELECT sum(n) FROM edges e WHERE e.p = pl.p) AS BIGINT)
             AS n_matches,
           round(g{BT_ITERS}.g, 6) AS bt_strength
    FROM players pl JOIN g{BT_ITERS} ON g{BT_ITERS}.p = pl.p
    ORDER BY source
    """,
)
def bradley_terry_strengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry strength fitting (Bradley & Terry 1952; Hunter's
    2004 MM algorithm, {BT_ITERS} unrolled rounds) over pairwise duels
    between SOURCES: within each prompt group, every cross-source doc
    pair is a match won by the higher deterministic reward (the
    ``best_of_n_selection`` reward model). BT strengths are THE
    standard aggregation of pairwise preferences — the same model
    behind Elo, RLHF reward-model eval, and LLM arena leaderboards —
    and unlike raw win rate they correct for opponent strength.

    Exactness: duel/win counts are exact integers; each MM round's
    per-player denominator Σ n_ij/(γ_i+γ_j) quantizes every term to
    integer nano-units before the reduce (float-sum order
    independence, the repo rule); the normalization divides by the
    round's strength sum over a ≤|sources| frame computed in one
    subquery in both lanes.

    Scale: duels join on the bounded prompt-group key (≤{BON_GROUP}
    docs per group ⇒ ≤{BON_GROUP}² pair work per group); everything
    after is |sources|²-sized (tiny). Three rounds of broadcast joins
    on the ≤|sources| strength table — linear lineage, no checkpoint
    needed (contrast kcore, whose per-round UNION forced one).
    """
    d = load_table(spark, sf_dir, "documents")
    reward = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{REWARD_SALT}:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    scored = d.select(
        "doc_id",
        "source",
        F.floor(F.col("doc_id") / BON_GROUP).cast("long").alias("grp"),
        reward.alias("reward"),
    )
    a = scored.select("grp", F.col("source").alias("sa"),
                      F.col("reward").alias("ra"), F.col("doc_id").alias("da"))
    b = scored.select("grp", F.col("source").alias("sb"),
                      F.col("reward").alias("rb"), F.col("doc_id").alias("db"))
    a_wins = (F.col("ra") > F.col("rb")) | (
        (F.col("ra") == F.col("rb")) & (F.col("da") > F.col("db"))
    )
    duels = (
        a.join(b, "grp")
        .filter(F.col("sa") < F.col("sb"))
        .select(
            F.when(a_wins, F.col("sa")).otherwise(F.col("sb")).alias("winner"),
            F.when(a_wins, F.col("sb")).otherwise(F.col("sa")).alias("loser"),
        )
    )
    duels = scoped_persist(duels)
    nmat = duels.groupBy(
        F.least("winner", "loser").alias("i"),
        F.greatest("winner", "loser").alias("j"),
    ).agg(F.count("*").cast("long").alias("n"))
    nmat = scoped_persist(nmat)
    wins = duels.groupBy(F.col("winner").alias("p")).agg(
        F.count("*").cast("long").alias("w")
    )
    players = (
        nmat.select(F.col("i").alias("p"))
        .unionByName(nmat.select(F.col("j").alias("p")))
        .distinct()
        .join(wins, "p", "left")
        .select("p", F.coalesce("w", F.lit(0)).cast("long").alias("w"))
    )
    players = scoped_persist(players)
    edges = nmat.select(F.col("i").alias("p"), F.col("j").alias("q"), "n").unionByName(
        nmat.select(F.col("j").alias("p"), F.col("i").alias("q"), "n")
    )
    edges = scoped_persist(edges)
    n_players = players.select(F.count("*").cast("double").alias("np"))
    g = players.select("p", F.lit(1.0).alias("g"))
    for _ in range(BT_ITERS):
        gq = g.select(F.col("p").alias("q"), F.col("g").alias("gq"))
        raw = (
            players.join(edges, "p")
            .join(g, "p")
            .join(F.broadcast(gq), "q")
            .groupBy("p", "w")
            .agg(
                (
                    F.sum(
                        F.round(
                            1_000_000_000 * F.col("n") / (F.col("g") + F.col("gq"))
                        ).cast("long")
                    ).cast("double")
                    / 1_000_000_000
                ).alias("den")
            )
            .select("p", (F.col("w") / F.col("den")).alias("g"))
        )
        # raw feeds BOTH the normalizer and the next strengths, and g
        # feeds BOTH sides of the next round's join — with live
        # lineage the logical plan doubles per round (21 s in the
        # bench, then an explainString OOM on a 20-player table; the
        # kcore_decomposition disease). localCheckpoint truncates the
        # plan each round; persist alone would not.
        tot = raw.agg(F.sum("g").alias("sg"))
        g = (
            raw.crossJoin(F.broadcast(tot))
            .crossJoin(F.broadcast(n_players))
            .select("p", (F.col("g") * F.col("np") / F.col("sg")).alias("g"))
            .localCheckpoint()
        )
    matches = edges.groupBy("p").agg(F.sum("n").cast("long").alias("n_matches"))
    return (
        players.join(g, "p")
        .join(matches, "p")
        .select(
            F.col("p").alias("source"),
            F.col("w").alias("n_wins"),
            "n_matches",
            F.round("g", 6).alias("bt_strength"),
        )
        .orderBy("source")
    )


TS_TRAIN_END = "2024-01-20"  # train < this day
TS_VAL_END = "2024-01-26"  # val < this day; test = the rest


@query(
    "temporal_split_audit",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id,
             CASE WHEN ts < TIMESTAMP '{TS_TRAIN_END}' THEN 0
                  WHEN ts < TIMESTAMP '{TS_VAL_END}' THEN 1
                  ELSE 2 END AS split_id
      FROM events
    ),
    per_split AS (
      SELECT split_id, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM tagged GROUP BY split_id
    ),
    firsts AS (
      SELECT user_id, CAST(min(split_id) AS BIGINT) AS first_split
      FROM tagged GROUP BY user_id
    ),
    seen AS (
      SELECT t.split_id,
             CAST(count(DISTINCT t.user_id) AS BIGINT) AS n_users_seen_earlier
      FROM (SELECT DISTINCT split_id, user_id FROM tagged) t
      JOIN firsts f ON f.user_id = t.user_id AND f.first_split < t.split_id
      GROUP BY t.split_id
    )
    SELECT CASE p.split_id WHEN 0 THEN 'train' WHEN 1 THEN 'val'
                           ELSE 'test' END AS split,
           p.n_events, p.n_users,
           coalesce(s.n_users_seen_earlier, 0) AS n_users_seen_earlier,
           round(CAST(coalesce(s.n_users_seen_earlier, 0) AS DOUBLE)
                 / p.n_users, 6) AS user_leakage_rate
    FROM per_split p LEFT JOIN seen s ON s.split_id = p.split_id
    ORDER BY p.split_id
    """,
)
def temporal_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train/val/test split census with USER-LEVEL leakage
    rates — the audit run before any time-series or recommendation
    eval: a chronological split prevents event-level leakage by
    construction, but a user active in both train and test still
    leaks user-level signal (their test behavior is partially
    memorizable), and this entry measures exactly how much of each
    later split's user base was already seen earlier. Cutoffs are
    literal date constants, the production posture for a frozen
    benchmark split (the hash-based sibling is
    ``deterministic_split``).

    Exactness: split assignment is a timestamp comparison against
    literals; every output is an integer count or one final division.

    Scale: one user-keyed distinct (the same shuffle the per-split
    user counts need anyway) and a broadcast-sized first-split join —
    |users| rows, not |events|.
    """
    e = load_table(spark, sf_dir, "events")
    split_id = (
        F.when(F.col("ts") < F.lit(TS_TRAIN_END).cast("timestamp_ntz"), 0)
        .when(F.col("ts") < F.lit(TS_VAL_END).cast("timestamp_ntz"), 1)
        .otherwise(2)
    )
    tagged = e.select("user_id", split_id.alias("split_id"))
    tagged = scoped_persist(tagged)
    per_split = tagged.groupBy("split_id").agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    pairs = tagged.distinct()
    firsts = pairs.groupBy("user_id").agg(
        F.min("split_id").cast("long").alias("first_split")
    )
    seen = (
        pairs.join(firsts, "user_id")
        .filter(F.col("first_split") < F.col("split_id"))
        .groupBy("split_id")
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users_seen_earlier")
        )
    )
    leak = F.coalesce(F.col("n_users_seen_earlier"), F.lit(0))
    return (
        per_split.join(seen, "split_id", "left")
        .select(
            F.when(F.col("split_id") == 0, "train")
            .when(F.col("split_id") == 1, "val")
            .otherwise("test")
            .alias("split"),
            "n_events",
            "n_users",
            leak.alias("n_users_seen_earlier"),
            F.round(leak.cast("double") / F.col("n_users"), 6).alias(
                "user_leakage_rate"
            ),
            F.col("split_id"),
        )
        .orderBy("split_id")
        .drop("split_id")
    )


@query(
    "brier_decomposition",
    oracle=f"""
    WITH scored AS (
      SELECT CAST(('0x' || substr(md5('cal:' || CAST(doc_id AS VARCHAR)), 1, 8))
                  AS BIGINT) AS s,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    rowterms AS (
      SELECT s, y, CAST(s * {CAL_BINS} // {CAL_SCALE} AS INTEGER) AS bin,
             CAST(round(1000000 * (CAST(s AS DOUBLE) / {CAL_SCALE} - y)
                                * (CAST(s AS DOUBLE) / {CAL_SCALE} - y))
                  AS BIGINT) AS sq_micro
      FROM scored
    ),
    bins AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n_b,
             CAST(sum(y) AS BIGINT) AS pos_b,
             CAST(sum(s) AS BIGINT) AS s_b,
             CAST(sum(sq_micro) AS BIGINT) AS sq_b
      FROM rowterms GROUP BY bin
    ),
    tot AS (SELECT CAST(sum(n_b) AS BIGINT) AS n,
                   CAST(sum(pos_b) AS BIGINT) AS pos,
                   CAST(sum(sq_b) AS BIGINT) AS sq FROM bins),
    binterms AS (
      SELECT CAST(round(1000000 * n_b
                 * abs(CAST(s_b AS DOUBLE) / (n_b * {CAL_SCALE}.0)
                       - CAST(pos_b AS DOUBLE) / n_b)) AS BIGINT) AS ece_micro,
             CAST(round(1000000 * n_b
                 * (CAST(s_b AS DOUBLE) / (n_b * {CAL_SCALE}.0)
                    - CAST(pos_b AS DOUBLE) / n_b)
                 * (CAST(s_b AS DOUBLE) / (n_b * {CAL_SCALE}.0)
                    - CAST(pos_b AS DOUBLE) / n_b)) AS BIGINT) AS rel_micro,
             CAST(round(1000000 * n_b
                 * (CAST(pos_b AS DOUBLE) / n_b - CAST(t.pos AS DOUBLE) / t.n)
                 * (CAST(pos_b AS DOUBLE) / n_b - CAST(t.pos AS DOUBLE) / t.n))
                  AS BIGINT) AS res_micro
      FROM bins CROSS JOIN tot t
    )
    SELECT t.n AS n_docs,
           round(CAST(t.sq AS DOUBLE) / 1000000 / t.n, 6) AS brier_score,
           round(CAST(sum(ece_micro) AS DOUBLE) / 1000000 / t.n, 6) AS ece,
           round(CAST(sum(rel_micro) AS DOUBLE) / 1000000 / t.n, 6)
             AS reliability,
           round(CAST(sum(res_micro) AS DOUBLE) / 1000000 / t.n, 6)
             AS resolution,
           round((CAST(t.pos AS DOUBLE) / t.n)
                 * (1 - CAST(t.pos AS DOUBLE) / t.n), 6) AS uncertainty
    FROM binterms CROSS JOIN tot t
    GROUP BY t.n, t.sq, t.pos
    """,
)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy reliability/resolution/uncertainty
    decomposition plus ECE (Brier 1950; Murphy 1973; Naeini et al.
    2015 for ECE — the calibration numbers every probabilistic
    classifier report leads with, aggregating the reliability TABLE
    of ``score_calibration_bins`` into the scalar gates a pipeline
    alerts on): confidence is the deterministic md5 score, the label
    is lang='en', bins are confidence deciles.

    Exactness: the direct Brier quantizes each row's squared error to
    integer micro units (scores are integer hashes, so the per-row
    expression is one fixed dag) and reduces by INTEGER sum; each
    bin's ECE/reliability/resolution term is likewise quantized once
    from exact integer sums — no float accumulation anywhere. Brier
    ~= reliability - resolution + uncertainty up to within-bin
    variance (exact only when scores are constant within bins), which
    is why the direct term is computed independently.

    Scale: one scan to decile aggregates (map-side combined), a
    1-row total broadcast, and a 10-row reduce.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("cal:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    sd = F.col("s").cast("double") / CAL_SCALE
    rowterms = scored.select(
        "s",
        "y",
        F.expr(f"CAST(s * {CAL_BINS} DIV {CAL_SCALE} AS INTEGER)").alias("bin"),
        F.round(1_000_000 * (sd - F.col("y")) * (sd - F.col("y")))
        .cast("long")
        .alias("sq_micro"),
    )
    bins = rowterms.groupBy("bin").agg(
        F.count("*").cast("long").alias("n_b"),
        F.sum("y").cast("long").alias("pos_b"),
        F.sum("s").cast("long").alias("s_b"),
        F.sum("sq_micro").cast("long").alias("sq_b"),
    )
    tot = bins.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("pos_b").cast("long").alias("pos"),
        F.sum("sq_b").cast("long").alias("sq"),
    )
    conf = F.col("s_b").cast("double") / (F.col("n_b") * float(CAL_SCALE))
    acc = F.col("pos_b").cast("double") / F.col("n_b")
    ybar = F.col("pos").cast("double") / F.col("n")
    binterms = bins.crossJoin(F.broadcast(tot)).select(
        F.round(1_000_000 * F.col("n_b") * F.abs(conf - acc))
        .cast("long")
        .alias("ece_micro"),
        F.round(1_000_000 * F.col("n_b") * (conf - acc) * (conf - acc))
        .cast("long")
        .alias("rel_micro"),
        F.round(1_000_000 * F.col("n_b") * (acc - ybar) * (acc - ybar))
        .cast("long")
        .alias("res_micro"),
        "n",
        "pos",
        "sq",
    )
    return binterms.groupBy("n", "pos", "sq").agg(
        F.sum("ece_micro").cast("long").alias("_e"),
        F.sum("rel_micro").cast("long").alias("_rl"),
        F.sum("res_micro").cast("long").alias("_rs"),
    ).select(
        F.col("n").alias("n_docs"),
        F.round(F.col("sq").cast("double") / 1_000_000 / F.col("n"), 6).alias(
            "brier_score"
        ),
        F.round(F.col("_e").cast("double") / 1_000_000 / F.col("n"), 6).alias(
            "ece"
        ),
        F.round(F.col("_rl").cast("double") / 1_000_000 / F.col("n"), 6).alias(
            "reliability"
        ),
        F.round(F.col("_rs").cast("double") / 1_000_000 / F.col("n"), 6).alias(
            "resolution"
        ),
        F.round(
            (F.col("pos").cast("double") / F.col("n"))
            * (1 - F.col("pos").cast("double") / F.col("n")),
            6,
        ).alias("uncertainty"),
    )


NEYMAN_BUDGET = 1000  # total sample size to allocate across strata


@query(
    "neyman_allocation_plan",
    oracle=f"""
    WITH g AS (
      SELECT source, CAST(count(*) AS BIGINT) AS nh,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY source
    ),
    terms AS (
      SELECT source, nh, s1, s2,
             CAST(round(1000000 * nh * sqrt(
               (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh)
               / nullif(nh - 1, 0))) AS BIGINT) AS t_micro
      FROM g
    ),
    tot AS (SELECT CAST(sum(t_micro) AS BIGINT) AS tt,
                   CAST(sum(nh) AS BIGINT) AS n FROM terms)
    SELECT source, nh AS n_docs,
           round(sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nh)
                      / nullif(nh - 1, 0)), 4) AS sd_chars,
           CAST(round({NEYMAN_BUDGET} * CAST(t_micro AS DOUBLE)
                      / nullif(tt, 0)) AS BIGINT) AS n_neyman,
           CAST(round({NEYMAN_BUDGET} * CAST(nh AS DOUBLE) / n) AS BIGINT)
             AS n_proportional
    FROM terms CROSS JOIN tot
    ORDER BY source
    """,
)
def neyman_allocation_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation (Neyman 1934 —
    sample size per stratum proportional to N_h·S_h, minimizing the
    estimator variance at a fixed budget; the design-side companion
    to ``stratified_sample``, which executes a given allocation):
    per-source document-length variability decides how many of the
    {1000}-doc labeling/eval budget each source earns, with the
    proportional allocation alongside for contrast — high-variance
    sources get oversampled exactly when proportional sampling would
    under-measure them.

    Exactness: per-stratum n/Σx/Σx² are integer sums; each stratum's
    N_h·S_h term quantizes to micro units (one sqrt over exact
    integers) and the normalizing total is an INTEGER sum; the final
    allocations are single rounded divisions. Single-doc strata give
    NULL sd via nullif and drop from the allocation identically in
    both lanes.

    Scale: one hash agg to |sources| rows, a 1-row total broadcast —
    the allocation plan for a petabyte corpus is strata-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.count("*").cast("long").alias("nh"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1") / F.col("nh")
    ) / F.nullif(F.col("nh") - 1, F.lit(0))
    terms = g.select(
        "source", "nh", "s1", "s2",
        F.round(1_000_000 * F.col("nh") * F.sqrt(var)).cast("long").alias(
            "t_micro"
        ),
    )
    tot = terms.agg(
        F.sum("t_micro").cast("long").alias("tt"),
        F.sum("nh").cast("long").alias("n"),
    )
    return (
        terms.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("nh").alias("n_docs"),
            F.round(F.sqrt(var), 4).alias("sd_chars"),
            F.round(
                NEYMAN_BUDGET * F.col("t_micro").cast("double")
                / F.nullif(F.col("tt"), F.lit(0))
            )
            .cast("long")
            .alias("n_neyman"),
            F.round(NEYMAN_BUDGET * F.col("nh").cast("double") / F.col("n"))
            .cast("long")
            .alias("n_proportional"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round 11: the corpus release export certified end-to-end.
# ---------------------------------------------------------------------------

CE_SHARDS = 8  # release shard count for the round-trip entry


@query(
    "corpus_export_roundtrip_e2e",
    oracle="""
    SELECT source,
           CAST(count(*) AS BIGINT)           AS n_docs,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum(n_chars) AS BIGINT)       AS total_chars
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def corpus_export_roundtrip_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus RELEASE export certified end-to-end under the oracle
    gate: ``export_corpus`` writes the documents table as
    {CE_SHARDS} deterministic JSONL shards plus a checksummed
    manifest, ``verify_export`` re-derives every shard's
    rows/bytes/checksum from the files themselves and matches the
    manifest, and then the entry plays CONSUMER — reads the shard
    files back, parses the JSON lines, and aggregates a census the
    DuckDB oracle states straight from ``documents``. A row lost in
    sharding, a doc serialized twice, or a field mangled by the
    JSON round-trip flips a count or a character sum.

    The transfer-integrity contract is exercised, not assumed: the
    entry APPENDS a junk line to one shard (the classic corrupted
    transfer), asserts the verify pass flags exactly that shard,
    restores the original bytes, and asserts verification is clean
    again before the census crosses the oracle.

    Scale: shard assignment is a hash projection, the stats pass is
    one aggregation of the same frame the writer serializes (no
    re-read), and the verify pass is shard-local — the release of a
    100 TB corpus verifies at scan speed with no driver-side data.
    """
    import os as _os

    from couchwarehouse_spark.sinks.corpus_export import (
        export_corpus,
        verify_export,
    )

    out_dir = e2e_scratch_dir("cw_release", sf_dir)

    d = load_table(spark, sf_dir, "documents")
    manifest = export_corpus(d, out_dir, key="doc_id", n_shards=CE_SHARDS)
    assert manifest["total_rows"] == d.count(), manifest["total_rows"]
    assert verify_export(spark, out_dir)["ok"]

    # Corrupted-transfer drill: one junk line appended to one shard.
    shard0 = sorted(
        _os.path.join(out_dir, sub, f)
        for sub in _os.listdir(out_dir)
        if sub.startswith("_cw_shard=")
        for f in _os.listdir(_os.path.join(out_dir, sub))
        if f.endswith(".txt")
    )[0]
    original = open(shard0, "rb").read()
    with open(shard0, "ab") as f:
        f.write(b'{"junk": true}\n')
    # Drop Hadoop's local-FS .crc sidecar for the tampered file: on a
    # checksummed local FS Hadoop flags the edit before the manifest
    # can; object stores (the 100 TB deployment) have no sidecar, and
    # the manifest checksum is then the only integrity layer — which
    # is what this entry certifies (same modeling as test_sinks.py).
    sdir, sfn = _os.path.split(shard0)
    _os.remove(_os.path.join(sdir, f".{sfn}.crc"))
    report = verify_export(spark, out_dir)
    assert not report["ok"] and len(report["mismatched_shards"]) == 1, report
    with open(shard0, "wb") as f:
        f.write(original)
    assert verify_export(spark, out_dir)["ok"]

    spark.catalog.refreshByPath(out_dir)
    lines = spark.read.text(out_dir)
    parsed = lines.select(
        F.from_json(
            "value",
            "doc_id long, text string, lang string, source string, n_chars long",
        ).alias("doc")
    ).select("doc.*")
    return (
        parsed.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Round 12: deterministic k-fold assignment audit.
# ---------------------------------------------------------------------------

KFOLDS = 5  # cross-validation fold count


@query(
    "stratified_kfold_audit",
    oracle=f"""
    WITH f AS (
      SELECT lang,
             {_hash_bucket_sql(KFOLDS, salt="kfold")} AS fold
      FROM documents
    ),
    c AS (SELECT lang, fold, CAST(count(*) AS BIGINT) AS n_docs
          FROM f GROUP BY 1, 2),
    t AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS nl FROM c GROUP BY 1)
    SELECT c.lang, c.fold, c.n_docs,
           round(CAST(t.nl AS DOUBLE) / {KFOLDS}, 2) AS expected_per_fold,
           round(abs(c.n_docs - CAST(t.nl AS DOUBLE) / {KFOLDS}), 2)
             AS abs_imbalance
    FROM c JOIN t USING (lang)
    ORDER BY lang, fold
    """,
)
def stratified_kfold_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-fold cross-validation assignment with a
    per-stratum balance audit: fold = md5-bucket(doc_id, salt
    'kfold') ∈ [0, {KFOLDS}) — reproducible across engines, runs and
    repartitioning (the ``deterministic_split`` contract, k-fold
    shape), SALTED so fold membership is independent of the
    train/val/test gate drawn from the same md5 stream. The census
    reports each (lang, fold) cell against the uniform expectation —
    the pre-training check that no fold is language-skewed (a skewed
    fold silently biases every CV estimate).

    Exactness: fold assignment is integer md5 arithmetic; counts are
    integers; the expectation/deviation dag is shared.

    Scale: one projection + one hash agg to |langs|·k rows.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.select(
        "lang", _hash_bucket(F.col("doc_id"), KFOLDS, salt="kfold").alias("fold")
    ).groupBy("lang", "fold").agg(F.count("*").cast("long").alias("n_docs"))
    t = c.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("nl"))
    expected = F.col("nl").cast("double") / KFOLDS
    return (
        c.join(F.broadcast(t), "lang")
        .select(
            "lang",
            "fold",
            "n_docs",
            F.round(expected, 2).alias("expected_per_fold"),
            F.round(F.abs(F.col("n_docs") - expected), 2).alias(
                "abs_imbalance"
            ),
        )
        .orderBy("lang", "fold")
    )
