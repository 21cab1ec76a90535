"""N4 — the two canonical published quality-rule sets, as first-class
relational operators: the Gopher document-quality rules [Rae et al.
2021, "Scaling Language Models: Methods, Analysis & Insights from
Training Gopher", Table A1] and the C4 page-cleaning filters
[Raffel et al. 2020, "Exploring the Limits of Transfer Learning with a
Unified Text-to-Text Transformer", §2.2].

Both are MAP-ONLY: every metric and every rule is a per-row array/
string expression — zero shuffles, zero UDFs, so a 100 TB corpus is
filtered at scan speed with predicate pushdown intact.  Every rule
boundary is evaluated in CROSS-MULTIPLIED INTEGER form (``3·n ≤ Σlen``
instead of ``Σlen/n ≥ 3.0``) so the pass/fail booleans are exact and
engine-independent; the ratio columns are reported as ROUND(...,9)
doubles for humans, but no rule depends on a float comparison.

The C4 line-level rules need multi-line pages and web noise the
word-soup fixture lacks, so — exactly like the media tier synthesizes
images and the crawl tier wraps docs into WARC — the page view is
SYNTHESIZED deterministically in-engine (8-token lines, md5-gated
missing terminal punctuation, md5-gated javascript / lorem-ipsum /
curly-brace noise lines) and the DuckDB oracle replays the same
synthesis byte-for-byte, so every one of the paper's rules genuinely
fires on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table

# --------------------------------------------------------------------------
# Gopher rules (Rae et al. 2021, Table A1) — paper constants
# --------------------------------------------------------------------------
#: required-stopword list, verbatim from the paper
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_G_MIN_WORDS, _G_MAX_WORDS = 50, 100_000
_G_MIN_MEAN, _G_MAX_MEAN = 3, 10  # mean word length bounds


def _gopher_oracle() -> str:
    stops = ", ".join(f"'{s}'" for s in _GOPHER_STOPS)
    return rf"""
    WITH base AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\s+'),
                         t -> t <> '') AS tk,
             string_split(text, chr(10)) AS lines,
             CAST((LENGTH(text) - LENGTH(REPLACE(text, '#', '')))
                  + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) / 3
                  AS BIGINT) AS n_symbols
      FROM documents
    ), m AS (
      SELECT doc_id,
             CAST(len(tk) AS BIGINT) AS n_words,
             CAST(list_sum(list_transform(tk, t -> LEN(t))) AS BIGINT)
               AS sum_wlen,
             CAST(len(list_filter(tk, t -> regexp_matches(t, '[a-z]')))
               AS BIGINT) AS n_alpha_words,
             CAST(len(list_filter([{stops}], s -> list_contains(tk, s)))
               AS BIGINT) AS n_stopwords,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(list_filter(lines, l ->
                    starts_with(l, '- ') OR starts_with(l, '* ')
                    OR starts_with(l, chr(8226)))) AS BIGINT) AS n_bullet,
             CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT)
               AS n_ellipsis,
             n_symbols
      FROM base
    )
    SELECT doc_id, n_words,
           ROUND(CAST(sum_wlen AS DOUBLE) / n_words, 9) AS mean_word_len,
           ROUND(CAST(n_symbols AS DOUBLE) / n_words, 9) AS symbol_word_ratio,
           ROUND(CAST(n_alpha_words AS DOUBLE) / n_words, 9)
             AS frac_alpha_words,
           n_stopwords,
           (n_words >= {_G_MIN_WORDS} AND n_words <= {_G_MAX_WORDS})
             AS r_word_count,
           ({_G_MIN_MEAN} * n_words <= sum_wlen
            AND sum_wlen <= {_G_MAX_MEAN} * n_words) AS r_mean_word_len,
           (10 * n_symbols <= n_words) AS r_symbol_ratio,
           (10 * n_bullet <= 9 * n_lines) AS r_bullet_lines,
           (10 * n_ellipsis <= 3 * n_lines) AS r_ellipsis_lines,
           (5 * n_alpha_words >= 4 * n_words) AS r_alpha_words,
           (n_stopwords >= 2) AS r_stopwords,
           (n_words >= {_G_MIN_WORDS} AND n_words <= {_G_MAX_WORDS}
            AND {_G_MIN_MEAN} * n_words <= sum_wlen
            AND sum_wlen <= {_G_MAX_MEAN} * n_words
            AND 10 * n_symbols <= n_words
            AND 10 * n_bullet <= 9 * n_lines
            AND 10 * n_ellipsis <= 3 * n_lines
            AND 5 * n_alpha_words >= 4 * n_words
            AND n_stopwords >= 2) AS gopher_pass
    FROM m
    """


@register("n4_gopher_rules", oracle=_gopher_oracle(), survey="N4 N6")
def n4_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher document-quality rule set [Rae et al. 2021, Table A1]
    as one map-only projection: word-count bounds (50..100k), mean word
    length in [3, 10], symbol-to-word ratio (# / ellipsis) ≤ 0.1, ≤ 90%
    of lines bullet-initial, ≤ 30% of lines ellipsis-final, ≥ 80% of
    words containing an alphabetic character, and ≥ 2 distinct required
    stopwords — the paper's constants, verbatim.  Every rule is an
    exact cross-multiplied integer comparison (no float boundary can
    disagree between engines); the ratio columns are reporting-only.
    100 TB shape: zero shuffles — the whole rule set rides the scan,
    and ``gopher_pass`` is a pushdown-friendly filter for every
    downstream stage.

    The repartition is local-fixture parallelism only (one parquet file
    = one input split); real corpora shard across files."""
    d = load_table(spark, sf_dir, "documents").repartition(24)
    return _gopher_frame(d)


def _gopher_frame(d: DataFrame) -> DataFrame:
    """The Gopher rule projection over any (doc_id, text) frame — the
    shared core for the batch query, the quality-gate composite, and
    the streaming attrition twin."""
    stops_arr = "array(" + ", ".join(f"'{s}'" for s in _GOPHER_STOPS) + ")"
    base = d.select(
        "doc_id",
        F.expr(r"filter(split(lower(text), '\\s+'), t -> t <> '')").alias("tk"),
        F.split("text", "\n").alias("lines"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"))))
            + (
                F.length("text")
                - F.length(F.replace(F.col("text"), F.lit("...")))
            )
            / 3
        )
        .cast("long")
        .alias("n_symbols"),
    )
    m = base.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_words"),
        F.expr("aggregate(transform(tk, t -> length(t)), 0L, (a, x) -> a + x)")
        .alias("sum_wlen"),
        F.expr("size(filter(tk, t -> t rlike '[a-z]'))")
        .cast("long")
        .alias("n_alpha_words"),
        F.expr(f"size(filter({stops_arr}, s -> array_contains(tk, s)))")
        .cast("long")
        .alias("n_stopwords"),
        F.size("lines").cast("long").alias("n_lines"),
        F.expr(
            "size(filter(lines, l -> l LIKE '- %' OR l LIKE '* %'"
            " OR l LIKE '•%'))"
        )
        .cast("long")
        .alias("n_bullet"),
        F.expr("size(filter(lines, l -> l LIKE '%...'))")
        .cast("long")
        .alias("n_ellipsis"),
        "n_symbols",
    )
    nw, sw = F.col("n_words"), F.col("sum_wlen")
    rules = {
        "r_word_count": (nw >= _G_MIN_WORDS) & (nw <= _G_MAX_WORDS),
        "r_mean_word_len": (F.lit(_G_MIN_MEAN) * nw <= sw)
        & (sw <= F.lit(_G_MAX_MEAN) * nw),
        "r_symbol_ratio": F.lit(10) * F.col("n_symbols") <= nw,
        "r_bullet_lines": F.lit(10) * F.col("n_bullet")
        <= F.lit(9) * F.col("n_lines"),
        "r_ellipsis_lines": F.lit(10) * F.col("n_ellipsis")
        <= F.lit(3) * F.col("n_lines"),
        "r_alpha_words": F.lit(5) * F.col("n_alpha_words") >= F.lit(4) * nw,
        "r_stopwords": F.col("n_stopwords") >= 2,
    }
    gopher_pass = None
    for c in rules.values():
        gopher_pass = c if gopher_pass is None else (gopher_pass & c)
    return m.select(
        "doc_id",
        "n_words",
        F.round(sw.cast("double") / nw, 9).alias("mean_word_len"),
        F.round(F.col("n_symbols").cast("double") / nw, 9)
        .alias("symbol_word_ratio"),
        F.round(F.col("n_alpha_words").cast("double") / nw, 9)
        .alias("frac_alpha_words"),
        "n_stopwords",
        *[c.alias(name) for name, c in rules.items()],
        gopher_pass.alias("gopher_pass"),
    )


# --------------------------------------------------------------------------
# C4 page cleaning (Raffel et al. 2020 §2.2) over a synthesized page view
# --------------------------------------------------------------------------
_C4_LINE_W = 8  # tokens per synthesized line

#: deterministic 3-line boilerplate footer (~8/16 of pages): the
#: repeated multi-sentence block the paper's span dedup exists to kill
_C4_FOOTER = (
    "subscribe to our newsletter for updates today.",
    "all rights reserved by the site owner.",
    "thanks for reading and see you soon.",
)

#: the synthesized-page + line-filter CTE chain (tk -> pages ->
#: cleaned), shared by the page-clean oracle and the span-dedup oracle
_C4_CLEANED_SQL = rf"""
    tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(LOWER(text), '\s+'),
                         t -> t <> '') AS tk
      FROM documents
    ), pages AS (
      SELECT doc_id,
        list_concat(list_concat(list_concat(list_concat(
          list_transform(
            range(0, CAST(CEIL(len(tk) / {_C4_LINE_W}.0) AS BIGINT)),
            i -> array_to_string(
                   list_slice(tk, i * {_C4_LINE_W} + 1,
                              i * {_C4_LINE_W} + {_C4_LINE_W}), ' ')
                 || CASE WHEN substr(md5('c4p:' || CAST(doc_id AS VARCHAR)
                                     || ':' || CAST(i AS VARCHAR)), 1, 1)
                         < '3' THEN '' ELSE '.' END),
          CASE WHEN substr(md5('c4footer:' || CAST(doc_id AS VARCHAR)), 1, 1)
               < '8'
            THEN {list(_C4_FOOTER)} ELSE [] END),
          CASE WHEN substr(md5('c4js:' || CAST(doc_id AS VARCHAR)), 1, 1)
               < '6'
            THEN ['please enable javascript to view the content menu.']
            ELSE [] END),
          CASE WHEN substr(md5('c4lorem:' || CAST(doc_id AS VARCHAR)), 1, 1)
               < '2'
            THEN ['lorem ipsum dolor sit amet consectetur.'] ELSE [] END),
          CASE WHEN substr(md5('c4brace:' || CAST(doc_id AS VARCHAR)), 1, 1)
               < '2'
            THEN ['var config = {{ mode: full }}.'] ELSE [] END) AS lines
      FROM tk
    ), cleaned AS (
      SELECT doc_id, lines,
             list_filter(lines, l ->
               regexp_matches(l, '[.!?]$')
               AND len(string_split(l, ' ')) >= 5
               AND l NOT LIKE '%javascript%') AS kept
      FROM pages
    )"""


def _c4_oracle() -> str:
    return f"""
    WITH {_C4_CLEANED_SQL}
    SELECT doc_id,
           CAST(len(lines) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept_lines,
           CASE
             WHEN len(list_filter(lines, l -> l LIKE '%lorem ipsum%')) > 0
               THEN 'drop_lorem'
             WHEN len(list_filter(lines, l -> contains(l, '{{'))) > 0
               THEN 'drop_brace'
             WHEN len(kept) < 3 THEN 'drop_few_sentences'
             ELSE 'kept'
           END AS page_status,
           CASE
             WHEN len(list_filter(lines, l -> l LIKE '%lorem ipsum%')) = 0
              AND len(list_filter(lines, l -> contains(l, '{{'))) = 0
              AND len(kept) >= 3
             THEN md5(array_to_string(kept, chr(10)))
           END AS clean_fp
    FROM cleaned
    """


def _c4_cleaned_frame(d: DataFrame) -> DataFrame:
    """The synthesized page view + line filter (doc_id, lines, kept) —
    the Spark twin of ``_C4_CLEANED_SQL``, shared by the page clean and
    the span dedup so the two cannot drift.

    The token array is bound ONCE per evaluation via a single-element
    ``transform(array(tokens), tks -> ...)`` wrapper (r12): higher-order
    lambdas are interpreted, so an inlined ``filter(split(lower(text)))``
    inside the per-line lambda would re-tokenize the WHOLE document once
    per synthesized line — O(len(text)^2) per doc.  The binding keeps
    the operator a single map-only projection (no materialization, the
    100 TB scan-speed claim) while tokenizing each document exactly once
    per ``lines`` evaluation; the value is bit-identical."""
    footer = ", ".join(f"'{ln}'" for ln in _C4_FOOTER)
    pages = d.select(
        "doc_id",
        F.expr(
            rf"""
            transform(
              array(filter(split(lower(text), '\\s+'), t -> t <> '')),
              tks ->
            concat(
              transform(
                sequence(0, cast(ceil(size(tks)
                                 / {_C4_LINE_W}.0) as int) - 1),
                i -> concat(
                       array_join(slice(tks,
                                        i * {_C4_LINE_W} + 1, {_C4_LINE_W}),
                                  ' '),
                       CASE WHEN substring(md5(concat('c4p:',
                                cast(doc_id as string), ':',
                                cast(i as string))), 1, 1) < '3'
                            THEN '' ELSE '.' END)),
              CASE WHEN substring(md5(concat('c4footer:',
                       cast(doc_id as string))), 1, 1) < '8'
                THEN array({footer})
                ELSE array() END,
              CASE WHEN substring(md5(concat('c4js:',
                       cast(doc_id as string))), 1, 1) < '6'
                THEN array('please enable javascript to view the content menu.')
                ELSE array() END,
              CASE WHEN substring(md5(concat('c4lorem:',
                       cast(doc_id as string))), 1, 1) < '2'
                THEN array('lorem ipsum dolor sit amet consectetur.')
                ELSE array() END,
              CASE WHEN substring(md5(concat('c4brace:',
                       cast(doc_id as string))), 1, 1) < '2'
                THEN array('var config = {{ mode: full }}.')
                ELSE array() END)
            )[0]
            """
        ).alias("lines"),
    )
    return pages.select(
        "doc_id",
        "lines",
        F.expr(
            "filter(lines, l -> l rlike '[.!?]$'"
            " AND size(split(l, ' ')) >= 5"
            " AND NOT l LIKE '%javascript%')"
        ).alias("kept"),
    )


@register("n4_c4_page_clean", oracle=_c4_oracle(), survey="N4 R6")
def n4_c4_page_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The C4 cleaning filters [Raffel et al. 2020 §2.2] — line level:
    retain only lines ending in terminal punctuation AND with ≥ 5 words
    AND not containing the word "javascript"; page level: drop any page
    containing "lorem ipsum" or a curly brace, or retaining fewer than
    3 sentences — the paper's rules verbatim (the ≥-3-times-corpus-wide
    boilerplate rule is its own certified operator,
    n4_boilerplate_strip; the 3-SENTENCE-SPAN dedup is
    n2_c4_span_dedup below).

    The page view is synthesized deterministically per document
    (8-token lines; an md5 gate strips terminal punctuation from ~3/16
    of lines; half the pages get the same 3-line boilerplate footer —
    the span-dedup target; independent md5 gates append a javascript
    menu line to ~6/16 of pages and a lorem-ipsum / curly-brace noise
    line to ~2/16 each) so every rule genuinely fires; the oracle
    replays the identical synthesis.  Whole operator is ONE map-only
    projection — line split, per-line predicate, page verdict are all
    array expressions, so at 100 TB the clean runs at scan speed and
    ``page_status`` prunes downstream stages without a shuffle."""
    d = load_table(spark, sf_dir, "documents")
    cleaned = _c4_cleaned_frame(d)
    has_lorem = F.expr("exists(lines, l -> l LIKE '%lorem ipsum%')")
    has_brace = F.expr("exists(lines, l -> contains(l, '{'))")
    ok = ~has_lorem & ~has_brace & (F.size("kept") >= 3)
    return cleaned.select(
        "doc_id",
        F.size("lines").cast("long").alias("n_lines"),
        F.size("kept").cast("long").alias("n_kept_lines"),
        F.when(has_lorem, "drop_lorem")
        .when(has_brace, "drop_brace")
        .when(F.size("kept") < 3, "drop_few_sentences")
        .otherwise("kept")
        .alias("page_status"),
        F.when(ok, F.md5(F.array_join("kept", "\n"))).alias("clean_fp"),
    )


# --------------------------------------------------------------------------
# N7 — TENTH composite: C4 clean -> Gopher gate -> eval holdout
# --------------------------------------------------------------------------
_EVAL_K = 20


def _quality_gate_oracle() -> str:
    return f"""
    WITH gop AS MATERIALIZED (
      SELECT doc_id, gopher_pass FROM ({_gopher_oracle()})
    ), c4p AS MATERIALIZED (
      SELECT doc_id, page_status FROM ({_c4_oracle()})
    ), j AS MATERIALIZED (
      SELECT d.doc_id, d.lang, g.gopher_pass,
             (c.page_status = 'kept') AS c4_kept
      FROM documents d
      JOIN gop g ON g.doc_id = d.doc_id
      JOIN c4p c ON c.doc_id = d.doc_id
    ), ev AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5('eval:' || CAST(doc_id AS VARCHAR)), doc_id)
               AS rk
      FROM j WHERE gopher_pass AND c4_kept
    )
    SELECT j.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN NOT c4_kept THEN 1 ELSE 0 END) AS BIGINT)
             AS n_c4_dropped,
           CAST(SUM(CASE WHEN c4_kept AND NOT gopher_pass
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_dropped,
           CAST(SUM(CASE WHEN c4_kept AND gopher_pass
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN e.rk <= {_EVAL_K} THEN 1 ELSE 0 END)
             AS BIGINT) AS n_eval,
           CAST(SUM(CASE WHEN c4_kept AND gopher_pass
                          AND COALESCE(e.rk, {_EVAL_K} + 1) > {_EVAL_K}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_train
    FROM j LEFT JOIN ev e ON e.doc_id = j.doc_id
    GROUP BY j.lang
    """


@register(
    "pipeline_quality_gate_end_to_end",
    oracle=_quality_gate_oracle(),
    survey="N7 N4 N6",
)
def pipeline_quality_gate_end_to_end(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TENTH end-to-end composite — the published-rule-set QUALITY GATE
    a pretraining corpus passes before mixing: (1) the C4 page clean
    (certified n4_c4_page_clean, called through its query fn so the
    composite cannot drift), (2) the Gopher rule set on the survivors
    (certified n4_gopher_rules), (3) an exactly-k-per-language eval
    holdout drawn from the kept set by the bottom-k hash-priority
    device (salt 'eval:', independent of the 'ks:' sample), and the
    per-language attrition ledger (docs -> C4-dropped -> Gopher-dropped
    -> kept -> eval/train) every data card wants.

    100 TB shape: both rule sets are map-only scans (fusable into one
    projection at the plan level — Spark's columnar scan reuse makes
    the second flag pass cheap); the only shuffles are the doc_id joins
    and ONE lang-keyed rank window over the kept set for the holdout;
    the final report is language-sized."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    g = n4_gopher_rules(spark, sf_dir).select("doc_id", "gopher_pass")
    c = n4_c4_page_clean(spark, sf_dir).select(
        "doc_id", (F.col("page_status") == "kept").alias("c4_kept")
    )
    # the flag frame feeds BOTH the holdout rank (via kept) and the
    # final ledger join; the r12 checkpoint pins the two map-only rule
    # scans at one execution each instead of one per branch (the before
    # plan scanned documents 12x)
    j = d.join(g, "doc_id").join(c, "doc_id").localCheckpoint(eager=True)
    from pyspark.sql.window import Window

    kept = j.filter(F.col("gopher_pass") & F.col("c4_kept"))
    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    ev = (
        kept.select(
            "doc_id",
            "lang",
            F.md5(F.concat(F.lit("eval:"), F.col("doc_id").cast("string")))
            .alias("pri"),
        )
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "rk")
    )
    jj = j.join(ev, "doc_id", "left")
    is_kept = F.col("gopher_pass") & F.col("c4_kept")
    return jj.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((~F.col("c4_kept")).cast("long")).alias("n_c4_dropped"),
        F.sum((F.col("c4_kept") & ~F.col("gopher_pass")).cast("long"))
        .alias("n_gopher_dropped"),
        F.sum(is_kept.cast("long")).alias("n_kept"),
        F.sum((F.col("rk") <= _EVAL_K).cast("long")).alias("n_eval_nullable"),
        F.sum(
            (is_kept & (F.coalesce("rk", F.lit(_EVAL_K + 1)) > _EVAL_K))
            .cast("long")
        ).alias("n_train"),
    ).select(
        "lang", "n_docs", "n_c4_dropped", "n_gopher_dropped", "n_kept",
        F.coalesce("n_eval_nullable", F.lit(0)).alias("n_eval"),
        "n_train",
    )


# --------------------------------------------------------------------------
# N2 — C4 three-sentence-span dedup (keep-first) over the cleaned pages
# --------------------------------------------------------------------------
def _c4_span_oracle() -> str:
    return f"""
    WITH {_C4_CLEANED_SQL}
    , keptp AS (
      SELECT doc_id, kept FROM cleaned
      WHERE len(list_filter(lines, l -> l LIKE '%lorem ipsum%')) = 0
        AND len(list_filter(lines, l -> contains(l, '{{'))) = 0
        AND len(kept) >= 3
    ), spans AS (
      SELECT doc_id, CAST(i AS BIGINT) AS span_no,
             md5(kept[i + 1] || ' ' || kept[i + 2] || ' ' || kept[i + 3])
               AS span_fp
      FROM (SELECT doc_id, kept, UNNEST(range(0, len(kept) - 2)) AS i
            FROM keptp)
    ), ranked AS (
      SELECT doc_id, span_no,
             ROW_NUMBER() OVER (PARTITION BY span_fp
               ORDER BY doc_id, span_no) AS rn
      FROM spans
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 9) AS dup_frac
    FROM ranked GROUP BY doc_id
    """


@register("n2_c4_span_dedup", oracle=_c4_span_oracle(), survey="N2 N4")
def n2_c4_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4's OTHER dedup rule [Raffel et al. 2020 §2.2]: "we discarded
    all but one of any three-sentence span occurring more than once" —
    keep-FIRST at span granularity (unlike n4_boilerplate_strip, which
    drops every occurrence of a frequent line).  Runs over the kept
    lines of kept pages from the shared C4 clean core; the synthesized
    boilerplate footer (half the pages share the same 3 lines) gives
    the rule real work on this corpus, exactly the repeated block the
    paper's rule existed to kill.

    100 TB shape: span fingerprints are md5 of 3 consecutive kept
    lines — map-only explode — then ONE span_fp-keyed shuffle for the
    global keep-first rank and one doc-keyed re-aggregate; the same
    two-shuffle budget as the chunk-dedup tier."""
    d = load_table(spark, sf_dir, "documents")
    # materialize the cleaned page view ONCE (r12): without the barrier
    # Catalyst collapses the projections and the page-keep filter below
    # evaluates the whole `lines` synthesis three times per doc (two
    # exists + one size) and the span projection a fourth — the
    # checkpoint pins construction at exactly one pass, the same
    # one-projection cost n4_c4_page_clean pays
    cleaned = _c4_cleaned_frame(d).localCheckpoint(eager=True)
    keptp = cleaned.filter(
        ~F.expr("exists(lines, l -> l LIKE '%lorem ipsum%')")
        & ~F.expr("exists(lines, l -> contains(l, '{'))")
        & (F.size("kept") >= 3)
    )
    spans = keptp.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(kept) - 3),"
                " i -> md5(concat(kept[i], ' ', kept[i + 1], ' ',"
                " kept[i + 2])))"
            )
        ).alias("span_no", "span_fp"),
    ).select("doc_id", F.col("span_no").cast("long").alias("span_no"),
             "span_fp")
    from pyspark.sql.window import Window

    w = Window.partitionBy("span_fp").orderBy("doc_id", "span_no")
    ranked = spans.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum((F.col("rn") > 1).cast("long")).alias("n_dup_spans"),
        F.round(
            F.sum((F.col("rn") > 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("dup_frac"),
    )


# --------------------------------------------------------------------------
# N7-S — streaming quality-gate attrition (additive counts + bottom-k)
# --------------------------------------------------------------------------
@register(
    "s_quality_gate_stream",
    oracle=_quality_gate_oracle(),
    survey="N7 N6 X2 X4",
    tags=("streaming",),
)
def s_quality_gate_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING twin of the quality-gate composite: both rule sets are
    map-only per-row expressions, so every micro-batch computes its own
    flags (through the SAME shared cores) and lands TWO
    overwrite-idempotent segments — (lang, stage-count) attrition rows,
    additive over any slicing, and the per-language bottom-20
    eval-holdout candidates of its kept docs, mergeable by the bottom-k
    law.  The injected crash lands BETWEEN the two appends (the
    torn-state window) with the checkpoint uncommitted, so replay must
    overwrite, not double-count.  After the drain the summed counts +
    re-ranked candidates reproduce the one-shot ledger — the oracle is
    the batch composite's SQL verbatim.  Live state: O(languages +
    k x languages)."""
    return _quality_gate_stream_run(spark, sf_dir)


def _quality_gate_stream_run(
    spark: SparkSession,
    sf_dir: str,
    crash_once_at: int | None = None,
    chunks: int | None = None,
) -> DataFrame:
    import os
    import shutil
    import uuid

    from pyspark.sql.window import Window

    from ..streaming import replay
    from ..streaming.segments import SegmentStore
    from .streaming_queries import _CHUNKS, _work_dir

    def take_k(df: DataFrame) -> DataFrame:
        w = Window.partitionBy("lang").orderBy("pri", "doc_id")
        return (
            df.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= _EVAL_K)
            .select("doc_id", "lang", "pri")
        )

    wd = _work_dir(sf_dir, "s_qgate")
    run = uuid.uuid4().hex[:8]
    cnt_dir = os.path.join(wd, f"cnt-{run}")
    cand_dir = os.path.join(wd, f"cand-{run}")
    ckpt = os.path.join(wd, f"ckpt-{run}")
    counts_store = SegmentStore(
        spark, cnt_dir, compact_every=2,
        merge=lambda df: df.groupBy("lang").agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_c4_dropped").alias("n_c4_dropped"),
            F.sum("n_gopher_dropped").alias("n_gopher_dropped"),
            F.sum("n_kept").alias("n_kept"),
        ),
    )
    cand_store = SegmentStore(spark, cand_dir, compact_every=2, merge=take_k)
    sdf = replay.replay_table(
        spark, sf_dir, "documents", os.path.join(wd, "src"),
        ts_col="doc_id", chunks=chunks or _CHUNKS, order_by=["doc_id"],
    )
    crash = replay.CrashPlan(crash_once_at)

    def fold(batch, bid: int) -> None:
        g = _gopher_frame(batch).select("doc_id", "gopher_pass")
        c = _c4_cleaned_frame(batch)
        has_lorem = F.expr("exists(lines, l -> l LIKE '%lorem ipsum%')")
        has_brace = F.expr("exists(lines, l -> contains(l, '{'))")
        cs = c.select(
            "doc_id",
            (~has_lorem & ~has_brace & (F.size("kept") >= 3)).alias(
                "c4_kept"
            ),
        )
        j = (
            batch.select("doc_id", "lang")
            .join(g, "doc_id")
            .join(cs, "doc_id")
            .localCheckpoint(eager=True)
        )
        is_kept = F.col("gopher_pass") & F.col("c4_kept")
        counts_store.append(
            j.groupBy("lang").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum((~F.col("c4_kept")).cast("long"))
                .alias("n_c4_dropped"),
                F.sum((F.col("c4_kept") & ~F.col("gopher_pass"))
                      .cast("long")).alias("n_gopher_dropped"),
                F.sum(is_kept.cast("long")).alias("n_kept"),
            ).coalesce(1),
            bid,
        )
        if crash.fire(bid):
            raise RuntimeError(
                "injected crash between the two segment stores"
            )
        cand = j.filter(is_kept).select(
            "doc_id",
            "lang",
            F.md5(F.concat(F.lit("eval:"), F.col("doc_id").cast("string")))
            .alias("pri"),
        )
        cand_store.append(take_k(cand).coalesce(1), bid)

    replay.run_foreach_batch(sdf, fold, checkpoint_dir=ckpt, crash=crash)

    counts = counts_store.read().groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_c4_dropped").cast("long").alias("n_c4_dropped"),
        F.sum("n_gopher_dropped").cast("long").alias("n_gopher_dropped"),
        F.sum("n_kept").cast("long").alias("n_kept"),
    )
    w = Window.partitionBy("lang").orderBy("pri", "doc_id")
    n_eval = (
        cand_store.read()
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _EVAL_K)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_eval"))
    )
    out = (
        counts.join(n_eval, "lang", "left")
        .select(
            "lang", "n_docs", "n_c4_dropped", "n_gopher_dropped", "n_kept",
            F.coalesce("n_eval", F.lit(0)).alias("n_eval"),
            (F.col("n_kept") - F.coalesce("n_eval", F.lit(0)))
            .alias("n_train"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(cnt_dir, ignore_errors=True)
    shutil.rmtree(cand_dir, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    return out
