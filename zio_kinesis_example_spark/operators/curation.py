"""Corpus-curation operators [north-star]: the remaining steps a
training-data pipeline runs between raw documents and a training mix —
benchmark decontamination, lexicon redaction, repetition scoring, and
token-budgeted corpus assembly. All JVM built-ins with exact DuckDB
oracles; no Python in any hot path.

Scale design:
- **Decontamination** joins the corpus against the *benchmark* n-gram set,
  which is tiny by construction (eval sets are ~10³-10⁵ docs) → broadcast
  semi/inner join; the 100 TB corpus side never shuffles.
- **Redaction / repetition** are stateless per-row maps (+ one partial-agg
  shuffle for repetition's per-doc term counts).
- **Token-budget assembly** is the two-level shape of every mixture
  builder: a domain-level aggregate (tiny, broadcast back) + one window
  per domain — a single shuffle on the domain key.

Reference parity note: the reference has no batch/text surface (SURVEY.md
§2.1); this module extends the mandated north-star pipeline operators
(SURVEY.md §2.2 text/sampling families).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load
from ..registry import query
from .exact import measure_domain
from .materialize import spread_scan

# 5-term shingles for decontamination overlap (eval-set n-gram matching,
# the standard train/test-overlap definition). Distinct per doc.
# Built by direct 5-element concat (measured ~25% cheaper than
# concat_ws-over-slice: no per-position array allocation); consumers must
# INLINE this expression into their explode() — naming it as a column and
# exploding the column in a later projection breaks the generate into a
# separate non-codegen'd stage (measured 4× slower at sf0.1).
_DECON_N = 5
_DECON_SHINGLES = f"""
    CASE WHEN size(terms) >= {_DECON_N}
         THEN array_distinct(transform(sequence(0, size(terms) - {_DECON_N}),
                  i -> concat(terms[i], ' ', terms[i+1], ' ', terms[i+2],
                              ' ', terms[i+3], ' ', terms[i+4])))
         ELSE array()
    END
"""
#: The held-out "benchmark" slice of the corpus: src19 stands in for an
#: eval set; everything else is training data.
_BENCH_SOURCE = "src19"


def _decon_gram_ctes(p: str = "") -> str:
    """The 5-gram contamination CTE chain (t/s/e/b, suffixable) — ONE
    SQL definition shared by the q_curate_decontaminate oracle and
    _PIPELINE_ORACLE (r8 review: the funnel oracle re-stated the rule
    by hand; an edit to one copy would leave the other stale)."""
    return f"""t{p} AS (SELECT doc_id, source, string_split(text, ' ') AS terms
               FROM documents),
        s{p} AS (SELECT doc_id, source,
                      list_distinct(CASE WHEN len(terms) >= {_DECON_N}
                        THEN list_transform(
                                 generate_series(1, len(terms) - {_DECON_N - 1}),
                                 i -> array_to_string(terms[i:i+{_DECON_N - 1}], ' '))
                        ELSE [] END) AS grams
               FROM t{p}),
        e{p} AS (SELECT doc_id, source, unnest(grams) AS g FROM s{p}),
        b{p} AS (SELECT DISTINCT g FROM e{p}
                 WHERE source = '{_BENCH_SOURCE}')"""


def _rep_count_cte(name: str = "rc") -> str:
    """Per-(doc, term) count CTE — the repetition rule's base, shared by
    the q_curate_repetition oracle and _PIPELINE_ORACLE."""
    return f"""{name} AS (SELECT doc_id, term, COUNT(*) AS n
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                     FROM documents) GROUP BY 1, 2)"""


@query(
    "q_curate_decontaminate",
    oracle=f"""
        WITH {_decon_gram_ctes()}
        SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
        FROM e JOIN b USING (g)
        WHERE e.source <> '{_BENCH_SOURCE}'
        GROUP BY e.doc_id
    """,
    tags=("curation", "text", "pipeline"),
)
def q_curate_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents sharing any 5-gram
    with the held-out benchmark slice (source = src19), with the count of
    distinct shared grams — the standard eval-overlap filter run before
    training.

    The benchmark gram set is aggregated first and BROADCAST into the
    corpus-side join (eval sets are small by construction), so the 100 TB
    training side is one map-side pass: explode → broadcast hash join →
    per-doc count. No corpus shuffle beyond the final per-doc agg.
    """
    return _decon_shared_grams(load(spark, sf_dir, "documents"))


#: Repetitiveness cut: a document whose most frequent term exceeds this
#: share of its tokens is degenerate boilerplate. ONE constant shared by
#: q_curate_repetition, q_curate_pipeline, and (textually) their oracles.
_REP_THRESHOLD = 0.2


def _decon_shared_grams(d: DataFrame) -> DataFrame:
    """ONE definition of the decontamination overlap: training docs'
    (doc_id, n_shared_grams) against the broadcast bench 5-gram set.
    ``d`` must carry (doc_id, source, text). Shared by
    q_curate_decontaminate and q_curate_pipeline so the drop rule can
    never silently diverge between the audit view and the pipeline."""
    terms_df = d.select("doc_id", "source",
                        F.split("text", " ").alias("terms"))
    # explode(expr) stays INLINE (see _DECON_SHINGLES note) and the
    # source filters sit below it, reaching each side's scan
    bench = (
        terms_df.filter(F.col("source") == _BENCH_SOURCE)
        .select(F.explode(F.expr(_DECON_SHINGLES)).alias("g"))
        .distinct()
    )
    return (
        terms_df.filter(F.col("source") != _BENCH_SOURCE)
        .select("doc_id", F.explode(F.expr(_DECON_SHINGLES)).alias("g"))
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def _term_counts(d: DataFrame) -> DataFrame:
    """Per-(doc, term) whitespace-token counts — the shared input of the
    repetition rule (partial-combines map-side)."""
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )


#: Deterministic "sensitive term" lexicon — the stand-in for a PII
#: pattern set (emails/phones don't occur in the synthetic corpus; the
#: operator shape — compiled alternation, global replace, audit count —
#: is identical for real patterns).
_REDACT_PATTERN = r"\b(key|hash|secret)\b"
_REDACT_TOKEN = "[REDACTED]"


@query(
    "q_curate_redact",
    oracle=rf"""
        SELECT doc_id,
               regexp_replace(text, '{_REDACT_PATTERN}',
                              '{_REDACT_TOKEN}', 'g') AS redacted,
               CAST(len(regexp_extract_all(text,
                        '{_REDACT_PATTERN}')) AS BIGINT) AS n_redacted
        FROM documents
    """,
    tags=("curation", "text", "pipeline"),
)
def q_curate_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon/pattern redaction with an audit count: every match of the
    sensitive-term alternation replaced by a fixed token, plus the number
    of redactions per document (the audit trail a compliance pipeline
    keeps). Stateless per-row map — no shuffle at any scale; the pattern
    is a compiled alternation evaluated inside codegen (Java regex and
    DuckDB's RE2 agree on this subset: literal alternation + word
    boundaries)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_replace("text", _REDACT_PATTERN, _REDACT_TOKEN)
        .alias("redacted"),
        # builder API, not expr(): a SQL string literal would re-escape \b
        F.size(F.regexp_extract_all("text", F.lit(_REDACT_PATTERN), F.lit(0)))
        .cast("long").alias("n_redacted"),
    )


@query(
    "q_curate_repetition",
    oracle=f"""
        WITH {_rep_count_cte("c")}
        SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_terms,
               CAST(COUNT(*) AS BIGINT) AS n_distinct,
               round(CAST(MAX(n) AS DOUBLE) / SUM(n), 6) AS max_term_ratio,
               round(CAST(COUNT(*) AS DOUBLE) / SUM(n), 6) AS type_token_ratio,
               (CAST(MAX(n) AS DOUBLE) / SUM(n) > {_REP_THRESHOLD}) AS is_repetitive
        FROM c GROUP BY doc_id
    """,
    tags=("curation", "text", "quality"),
)
def q_curate_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition scoring — the quality signal that catches degenerate
    boilerplate/generated text: per-document max-term frequency ratio and
    type-token ratio, with a >0.2 repetitiveness flag. explode → per-(doc,
    term) count → per-doc agg; both aggregations partial-combine map-side,
    so the shuffle carries term counts, not term instances."""
    counts = _term_counts(load(spark, sf_dir, "documents"))
    max_ratio = F.max("n").cast("double") / F.sum("n")
    return counts.groupBy("doc_id").agg(
        F.sum("n").alias("n_terms"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(max_ratio, 6).alias("max_term_ratio"),
        F.round(F.count(F.lit(1)).cast("double") / F.sum("n"), 6)
        .alias("type_token_ratio"),
        (max_ratio > _REP_THRESHOLD).alias("is_repetitive"),
    )


#: Target corpus size (whitespace tokens) for the assembly query.
#: 10k, NOT a value above the verification corpus (r9 review: the old
#: 50k exceeded sf0.01's ~27k total tokens, so the cum_tokens cut was a
#: no-op at the oracle gate and the entire budget-allocation subplan —
#: the proportional floor, the '<=' boundary, the per-domain window —
#: was hash-green without ever being exercised; at 10k every domain's
#: cut binds at sf0.01 AND sf0.1).
_TOKEN_BUDGET = 10_000


@query(
    "q_curate_token_budget",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, lang, source,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents),
        dom AS (SELECT lang, source, SUM(n_tokens) AS dom_tokens FROM d
                GROUP BY lang, source),
        tot AS (SELECT SUM(n_tokens) AS total_tokens FROM d),
        budget AS (
            SELECT lang, source,
                   CAST(floor({_TOKEN_BUDGET} * dom_tokens * 1.0
                              / total_tokens) AS BIGINT) AS dom_budget
            FROM dom CROSS JOIN tot),
        ranked AS (
            SELECT doc_id, lang, source, n_tokens,
                   CAST(SUM(n_tokens) OVER (PARTITION BY lang, source
                                            ORDER BY h, doc_id)
                        AS BIGINT) AS cum_tokens
            FROM d)
        SELECT r.doc_id, r.lang, r.source, r.n_tokens, r.cum_tokens
        FROM ranked r JOIN budget b USING (lang, source)
        WHERE r.cum_tokens <= b.dom_budget
    """,
    tags=("curation", "sampling", "pipeline"),
)
def q_curate_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted corpus assembly: allocate a global token budget
    across (lang, source) domains proportionally to their token mass,
    then fill each domain's allocation with documents in deterministic
    md5(doc_id) order until the budget is hit — the final step of a
    mixture builder, downsampling every domain to a fixed-size training
    corpus reproducibly.

    Two-level plan: domain totals are a tiny aggregate BROADCAST back
    onto the ranked stream; the corpus pays exactly one shuffle (the
    (lang, source) window) at any scale. The deterministic hash order
    replaces rand() so reruns and engines agree bit-for-bit."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    dom = d.groupBy("lang", "source").agg(
        F.sum("n_tokens").alias("dom_tokens")
    )
    # total from the TINY dom aggregate, not a second full-corpus scan
    # (r8 review: int64 sums are associative, so summing the domain
    # sums is exact-identical to summing the corpus directly)
    total = dom.agg(F.sum("dom_tokens").alias("total_tokens"))
    budget = dom.crossJoin(F.broadcast(total)).select(
        "lang", "source",
        F.floor(
            F.lit(_TOKEN_BUDGET) * F.col("dom_tokens")
            / F.col("total_tokens")
        ).alias("dom_budget"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return (
        ranked.join(F.broadcast(budget), ["lang", "source"])
        .filter(F.col("cum_tokens") <= F.col("dom_budget"))
        .select("doc_id", "lang", "source", "n_tokens", "cum_tokens")
    )


#: Full-funnel oracle: regenerates the SAME LSH buckets (portable hash),
#: verified near-dup pairs, exact-dup groups, 5-gram contamination set,
#: and repetition scores, then applies the identical drop rules.
#: Registered as a CALLABLE (resolved after every module loads): a
#: module-level ``from .llm_dedup import _DUCK_MINHASH`` hoisted all of
#: llm_dedup's query registrations into the middle of curation's import,
#: contradicting the registry's cheap-modules-first serve order
#: (r9 review).
def _pipeline_oracle() -> str:
    from .llm_dedup import _DUCK_MINHASH as _MH  # oracle fragment

    return (
        "WITH" + _MH
        + f""",
        cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                 FROM buckets a JOIN buckets b
                   ON a.band_id = b.band_id
                  AND a.band_hash = b.band_hash
                  AND a.doc_id < b.doc_id),
        ver AS (SELECT c.doc_a, c.doc_b
                FROM cand c JOIN s x ON c.doc_a = x.doc_id
                            JOIN s y ON c.doc_b = y.doc_id
                WHERE len(list_intersect(x.sh, y.sh)) * 1.0 /
                      (len(x.sh) + len(y.sh)
                       - len(list_intersect(x.sh, y.sh))) >= 0.5),
        nd AS (SELECT DISTINCT doc_b AS doc_id FROM ver),
        xdup AS (SELECT d.doc_id
                 FROM documents d
                 JOIN (SELECT sha256(text) AS h, MIN(doc_id) AS keep
                       FROM documents GROUP BY 1) k
                   ON sha256(d.text) = k.h
                 WHERE d.doc_id <> k.keep),
        {_decon_gram_ctes("5")},
        dc AS (SELECT DISTINCT e5.doc_id FROM e5 JOIN b5 USING (g)
               WHERE e5.source <> '{_BENCH_SOURCE}'),
        {_rep_count_cte()},
        rep AS (SELECT doc_id FROM (
                    SELECT doc_id, CAST(MAX(n) AS DOUBLE) / SUM(n) AS r
                    FROM rc GROUP BY doc_id) WHERE r > {_REP_THRESHOLD}),
        drops AS (SELECT doc_id FROM xdup UNION SELECT doc_id FROM nd
                  UNION SELECT doc_id FROM dc UNION SELECT doc_id FROM rep)
    SELECT d.doc_id, d.lang, d.source,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM documents d
    WHERE d.source <> '{_BENCH_SOURCE}'
      AND d.doc_id NOT IN (SELECT doc_id FROM drops)
"""
    )


@query(
    "q_curate_pipeline",
    oracle=_pipeline_oracle,
    tags=("curation", "pipeline", "e2e"),
)
def q_curate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation: the whole pre-training funnel as ONE plan —
    exact dedup, MinHash near-dedup, benchmark decontamination, and
    repetition filtering composed over the documents table, emitting the
    surviving training corpus with token counts.

    Drop rules (all deterministic, all mirrored exactly by the oracle):
      1. the benchmark slice itself (source = src19) is not training data;
      2. exact duplicates: every doc whose sha256(text) group has a
         smaller doc_id;
      3. near-duplicates: the larger id of every verified MinHash pair
         (3-gram Jaccard ≥ 0.5, portable-hash LSH candidates);
      4. contaminated: any doc sharing a 5-gram with the benchmark slice;
      5. degenerate: max-term-frequency ratio > 0.2.

    Scale shape: each drop rule produces a SMALL id set relative to the
    corpus (dedup keeps one per group, contamination/repetition catch
    tails); the four sets union into ONE distinct frame and the corpus
    pays a single anti-join against it (AQE broadcasts it when small).
    The LSH index is the shared persisted signature table — computing
    this pipeline after any other dedup query reuses it.
    """
    from .llm_dedup import q_dedup_minhash_pairs

    d = load(spark, sf_dir, "documents")

    # r14 (guide §2.4, VERDICT r13 #4): the old shape computed
    # sha256(text) over the corpus TWICE (once per side of a
    # keepers-join: event-log profile showed two 0.3–0.5 s single-task
    # scan stages at sf0.1) — the same drop set falls out of ONE hashed
    # pass and a min-window over the hash groups (one shuffle, one
    # sha256 per row). spread_scan: the sha256+shuffle-write work
    # otherwise runs in the single-file scan's 1-task stage.
    hd = spread_scan(d).select("doc_id", F.sha2("text", 256).alias("h"))
    exact_drops = (
        hd.withColumn("keep_id",
                      F.min("doc_id").over(Window.partitionBy("h")))
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select("doc_id")
    )

    near_drops = (
        q_dedup_minhash_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id")).distinct()
    )

    # the SAME drop rules as the standalone audit operators, via the
    # shared helpers — composition, never a re-statement
    decon_drops = _decon_shared_grams(d).select("doc_id")

    rep_drops = (
        _term_counts(d).groupBy("doc_id")
        .agg((F.max("n").cast("double") / F.sum("n")).alias("r"))
        .filter(F.col("r") > _REP_THRESHOLD)
        .select("doc_id")
    )

    drops = (
        exact_drops.unionByName(near_drops)
        .unionByName(decon_drops).unionByName(rep_drops)
        .distinct()
    )
    return (
        d.filter(F.col("source") != _BENCH_SOURCE)
        .join(drops, "doc_id", "left_anti")
        .select(
            "doc_id", "lang", "source",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
    )


#: Gopher-style gate thresholds (Rae et al. 2021 §A1.1, re-based to the
#: synthetic corpus's scale: docs are single-line space-joined words).
_GATE_MIN_WORDS = 30
_GATE_MAX_WORDS = 5_000
_GATE_MEAN_WLEN = (2.0, 10.0)
_GATE_UNIQUE_FRAC = 0.30
_GATE_TOP_FRAC = 0.20
# one shared vocabulary AND one shared SQL rendering (r8/r9 review): the
# tuple-repr IN-list broke on one-element tuples — ('the',) is a SQL
# syntax error — and on quote-bearing terms; _SQL_STOPS is the explicit
# join-based builder llm_text already maintains.
from .llm_text import STOPWORDS as _GATE_STOPWORDS  # noqa: E402
from .llm_text import _SQL_STOPS as _GATE_SQL_STOPS  # noqa: E402
_GATE_MIN_STOPHITS = 2


@query(
    "q_curate_quality_gates",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, lang, source,
                   string_split(text, ' ') AS w,
                   len(string_split(text, ' ')) AS n
            FROM documents
        ),
        s AS (
            SELECT doc_id, lang, source, n,
                   CAST(length(array_to_string(w, '')) AS DOUBLE) / n
                       AS mean_wlen,
                   CAST(len(list_distinct(w)) AS DOUBLE) / n AS uniq_frac,
                   (SELECT MAX(c) FROM (
                        SELECT COUNT(*) AS c FROM unnest(w) AS u(term)
                        GROUP BY term)) AS top_n,
                   len(list_filter(list_distinct(w),
                       x -> x IN {_GATE_SQL_STOPS})) AS stop_hits
            FROM t
        )
        SELECT doc_id, lang, source,
               CAST(n AS BIGINT) AS n_words,
               n BETWEEN {_GATE_MIN_WORDS} AND {_GATE_MAX_WORDS} AS r_nwords,
               mean_wlen BETWEEN {_GATE_MEAN_WLEN[0]} AND {_GATE_MEAN_WLEN[1]}
                   AS r_mean_wlen,
               uniq_frac > {_GATE_UNIQUE_FRAC} AS r_unique,
               CAST(top_n AS DOUBLE) / n <= {_GATE_TOP_FRAC} AS r_top_word,
               stop_hits >= {_GATE_MIN_STOPHITS} AS r_stopwords,
               (n BETWEEN {_GATE_MIN_WORDS} AND {_GATE_MAX_WORDS})
               AND (mean_wlen BETWEEN {_GATE_MEAN_WLEN[0]}
                                  AND {_GATE_MEAN_WLEN[1]})
               AND uniq_frac > {_GATE_UNIQUE_FRAC}
               AND CAST(top_n AS DOUBLE) / n <= {_GATE_TOP_FRAC}
               AND stop_hits >= {_GATE_MIN_STOPHITS} AS keep
        FROM s
    """,
    tags=("curation", "text", "quality", "pipeline"),
)
def q_curate_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality gates: the named boolean filter battery
    (doc-length bounds, mean word length, unique-word fraction,
    top-word dominance, stopword presence) every pre-training corpus
    passes through, emitted per-rule for auditability plus the composed
    ``keep`` verdict — the gate form of q_text_quality's scores.

    DETERMINISM: every ratio is an exact-integer division evaluated once
    per row and COMPARED (never re-emitted as a float), so the booleans
    are engine-exact even where the doubles' last bits are not.

    Scale shape: stateless per-row JVM expressions over the split-once
    term array — zero shuffles at any corpus size; the one non-trivial
    stat (top-word count) is a per-row sorted-run-length fold with
    constant state, not a groupBy.
    """
    d = load(spark, sf_dir, "documents")
    w = F.split("text", " ")
    n = F.size(w)
    mean_wlen = (F.length(F.regexp_replace("text", " ", "")).cast("double")
                 / n)
    uniq_frac = F.size(F.array_distinct(w)).cast("double") / n
    # per-row top term count: longest equal run of the SORTED term array —
    # an O(L log L) fold with constant state, no explode, no shuffle (a
    # term→count map fold would rebuild an immutable map per term:
    # O(L·distinct), measured ~4× slower on this corpus).
    top_n = F.expr(
        "aggregate(array_sort(w), "
        "named_struct('prev', '', 'run', 0, 'best', 0), "
        "(s, t) -> named_struct("
        "  'prev', t, "
        "  'run', if(t = s.prev, s.run + 1, 1), "
        "  'best', greatest(s.best, if(t = s.prev, s.run + 1, 1))), "
        "s -> s.best)"
    )
    stop_hits = F.size(F.filter(
        F.array_distinct(w), lambda x: x.isin(*_GATE_STOPWORDS)))
    df = d.select(
        "doc_id", "lang", "source", w.alias("w"), n.alias("n"),
        mean_wlen.alias("mean_wlen"), uniq_frac.alias("uniq_frac"),
        stop_hits.alias("stop_hits"),
    ).withColumn("top_n", top_n)
    r_nwords = F.col("n").between(_GATE_MIN_WORDS, _GATE_MAX_WORDS)
    r_mean = F.col("mean_wlen").between(*_GATE_MEAN_WLEN)
    r_unique = F.col("uniq_frac") > _GATE_UNIQUE_FRAC
    r_top = (F.col("top_n").cast("double") / F.col("n")) <= _GATE_TOP_FRAC
    r_stop = F.col("stop_hits") >= _GATE_MIN_STOPHITS
    return df.select(
        "doc_id", "lang", "source",
        F.col("n").cast("long").alias("n_words"),
        r_nwords.alias("r_nwords"),
        r_mean.alias("r_mean_wlen"),
        r_unique.alias("r_unique"),
        r_top.alias("r_top_word"),
        r_stop.alias("r_stopwords"),
        (r_nwords & r_mean & r_unique & r_top & r_stop).alias("keep"),
    )


@query(
    "q_curate_mix_report",
    oracle="""
        WITH g AS (
            SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                       AS n_tokens
            FROM documents GROUP BY lang, source
        ),
        t AS (SELECT SUM(n_tokens) AS tot FROM g)
        SELECT lang, source, n_docs, n_tokens,
               CAST((n_tokens * 1000000) // tot AS BIGINT) AS ppm_of_corpus
        FROM g, t
    """,
    tags=("curation", "reporting", "pipeline"),
)
def q_curate_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-composition report: docs, tokens, and parts-per-million
    share per (lang, source) cell — the mixture audit table every
    training run logs next to its data card (shares in exact integer
    ppm, not floats, so the report is engine-reproducible).

    Scale shape: one partial-agged groupBy; the global total is a
    one-row broadcast back over the tiny cell table.
    """
    d = load(spark, sf_dir, "documents")
    g = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    t = g.agg(F.sum("n_tokens").alias("tot"))
    return (
        g.crossJoin(F.broadcast(t))
        .select("lang", "source", "n_docs", "n_tokens",
                F.expr("(n_tokens * 1000000) DIV tot").alias("ppm_of_corpus"))
    )


@query(
    "q_curate_winsorize",
    oracle="""
        WITH ev AS (SELECT * FROM events
                    WHERE abs(value) < 9.0e11),  -- measure domain (r13)
        q AS (
            SELECT event_type,
                   percentile_cont(0.25) WITHIN GROUP (ORDER BY value) AS p25,
                   percentile_cont(0.75) WITHIN GROUP (ORDER BY value) AS p75
            FROM ev GROUP BY event_type
        ),
        b AS (SELECT event_type,
                     p25 - 1.5 * (p75 - p25) AS lo,
                     p75 + 1.5 * (p75 - p25) AS hi
              FROM q)
        SELECT e.event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CASE WHEN e.value < b.lo OR e.value > b.hi
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               round(SUM(CASE WHEN e.value >= b.lo AND e.value <= b.hi
                              THEN CAST(round(e.value * 100) AS BIGINT)
                              ELSE 0 END) / 100.0
                     + SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END)
                       * MIN(b.lo)
                     + SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END)
                       * MIN(b.hi), 6) AS winsorized_sum
        FROM ev e JOIN b USING (event_type)
        GROUP BY e.event_type
    """,
    tags=("curation", "stats", "cleaning"),
)
def q_curate_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence winsorization: per-group IQR bounds
    (p25 − 1.5·IQR, p75 + 1.5·IQR), outlier counts, and the clipped sum —
    the numeric-cleaning step (sensor glitches, bot bursts) applied
    before any mean-based statistic.

    DETERMINISM: exact interpolated percentiles (q_agg_percentile's
    operator) feed fence arithmetic that is the identical IEEE op chain
    on both engines; the clipped sum decomposes into exact-cent integer
    sums plus count-times-fence terms (one multiply each), so no double
    ever accumulates in partition order. Boundary comparisons use the
    fences themselves, so a value equal to a fence is NOT an outlier on
    either engine.

    Scale shape: the per-group bounds collapse to |groups| rows and
    broadcast back into a single stateless pass + partial agg; at 100 TB
    swap the exact percentile for approx_percentile (same plan shape,
    bounded memory) and accept sketch-level fence drift.
    """
    e = load(spark, sf_dir, "events").filter(measure_domain("value"))
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("p25"),
        F.percentile("value", F.lit(0.75)).alias("p75"),
    )
    b = q.select(
        "event_type",
        (F.col("p25") - 1.5 * (F.col("p75") - F.col("p25"))).alias("lo"),
        (F.col("p75") + 1.5 * (F.col("p75") - F.col("p25"))).alias("hi"),
    )
    # the clipped sum DECOMPOSES into exact integer arithmetic: in-range
    # values are exact cents (2dp data), each fence contributes count x
    # fence with ONE multiply — summing clipped doubles directly would
    # reassociate in partition order and diverge between engines once
    # groups grow (q_ts_interpolate's sf0.1 lesson)
    in_range = (F.col("value") >= F.col("lo")) & (F.col("value") <= F.col("hi"))
    return (
        e.join(F.broadcast(b), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when((F.col("value") < F.col("lo"))
                         | (F.col("value") > F.col("hi")), 1)
                  .otherwise(0)).cast("long").alias("n_outliers"),
            F.round(
                F.sum(F.when(in_range,
                             F.round(F.col("value") * 100).cast("long"))
                      .otherwise(F.lit(0))) / F.lit(100.0)
                + F.sum(F.when(F.col("value") < F.col("lo"), 1)
                        .otherwise(0)) * F.min("lo")
                + F.sum(F.when(F.col("value") > F.col("hi"), 1)
                        .otherwise(0)) * F.min("hi"), 6)
            .alias("winsorized_sum"),
        )
    )


_CHUNK_LEN = 64     # terms per training window
_CHUNK_STRIDE = 48  # overlap = len - stride = 16 terms


@query(
    "q_curate_chunk",
    oracle=f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS w,
                          len(string_split(text, ' ')) AS n
                   FROM documents),
        c AS (
            SELECT doc_id, n,
                   unnest(generate_series(0,
                       CAST(CASE WHEN n <= {_CHUNK_LEN} THEN 0
                            ELSE ceil(CAST(n - {_CHUNK_LEN} AS DOUBLE)
                                      / {_CHUNK_STRIDE}) END AS BIGINT)))
                       AS chunk_no,
                   w
            FROM t
        )
        SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
               CAST(least({_CHUNK_LEN}, n - chunk_no * {_CHUNK_STRIDE})
                    AS BIGINT) AS chunk_tokens,
               w[chunk_no * {_CHUNK_STRIDE} + 1] AS first_term,
               w[least(chunk_no * {_CHUNK_STRIDE} + {_CHUNK_LEN}, n)]
                   AS last_term
        FROM c
    """,
    tags=("curation", "chunking", "pipeline"),
)
def q_curate_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document split into 64-token
    training windows at stride 48 (16-token overlap carries
    context across boundaries) — the doc→sequence transform between
    curation and tokenization in every pre-training pipeline; the final
    chunk is short rather than dropped, and a doc shorter than one
    window yields exactly one chunk.

    Scale shape: per-row chunk-count arithmetic + ONE inline
    posexplode (the generate stays fused — _DECON_SHINGLES' lesson);
    fan-out ≈ n/stride rows per doc, each carrying offsets, not copied
    text (the slice materializes downstream only where consumed). No
    shuffle at all.
    """
    # split ONCE (r9 review: the doubled split expression leaned on
    # codegen CSE; q_curate_quality_gates' single-w discipline applies)
    d = load(spark, sf_dir, "documents") \
        .select("doc_id", F.split("text", " ").alias("w")) \
        .select("doc_id", "w", F.size("w").alias("n"))
    return (
        d.select(
            "doc_id", "n", "w",
            # plain explode: sequence position and value are identical
            # by construction, so posexplode's discarded value column
            # was dead weight (r9 review)
            F.explode(F.expr(
                f"sequence(0, CASE WHEN n <= {_CHUNK_LEN} THEN 0 "
                f"ELSE cast(ceil(cast(n - {_CHUNK_LEN} as double) "
                f"/ {_CHUNK_STRIDE}) as int) END)"
            )).alias("chunk_no"),
        )
        .select(
            "doc_id",
            F.col("chunk_no").cast("int").alias("chunk_no"),
            F.least(F.lit(_CHUNK_LEN),
                    F.col("n") - F.col("chunk_no") * _CHUNK_STRIDE)
            .cast("long").alias("chunk_tokens"),
            F.expr(f"w[chunk_no * {_CHUNK_STRIDE}]").alias("first_term"),
            F.expr(f"w[least(chunk_no * {_CHUNK_STRIDE} + {_CHUNK_LEN}, n) - 1]")
            .alias("last_term"),
        )
    )


_BOILER_N = 10   # shared leading n-gram
_BOILER_K = 3    # appearing in ≥ k docs = boilerplate


@query(
    "q_curate_boilerplate",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source,
                   array_to_string(string_split(text, ' ')[1:{_BOILER_N}],
                                   ' ') AS head
            FROM documents
            WHERE len(string_split(text, ' ')) >= {_BOILER_N}
        ),
        g AS (SELECT head, CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM t GROUP BY head
              HAVING COUNT(*) >= {_BOILER_K})
        SELECT t.doc_id, t.source, g.n_docs AS header_family_size
        FROM t JOIN g USING (head)
    """,
    tags=("curation", "text", "boilerplate"),
)
def q_curate_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-header detection: documents whose leading 10-gram is
    shared by ≥ 3 documents (template headers, navigation chrome,
    license preambles) — the prefix-family pass a curation pipeline runs
    to strip or down-weight templated content; emits each member with
    its family size.

    Scale shape: ONE partial-agged groupBy on the constant-length
    prefix (no full-shingle explosion — contrast q_curate_decontaminate,
    which must consider every position); the qualifying family table is
    small and re-joins on the same key. Exact string equality only.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split("text", " ").alias("w"))
    t = d.filter(F.size("w") >= _BOILER_N).select(
        "doc_id", "source",
        F.concat_ws(" ", F.slice("w", 1, _BOILER_N)).alias("head"))
    g = (t.groupBy("head").agg(F.count(F.lit(1)).alias("n_docs"))
         .filter(F.col("n_docs") >= _BOILER_K))
    return (
        t.join(g, "head")
        .select("doc_id", "source",
                F.col("n_docs").alias("header_family_size"))
    )
