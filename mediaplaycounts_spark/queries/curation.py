"""Corpus-curation operators: the filters a 100 TB training-data
pipeline runs between raw crawl and tokenizer (north-star mandate
`BASELINE.json:6` — text analysis / dedup / sampling beyond §2.I/J).

- `text_pii_redact` — regex PII detection + redaction. The synthetic
  corpus has no PII, so each doc is prefixed with a deterministic fake
  contact line derived from doc_id; the regexes then have real work to
  do and the oracle still value-hashes. Patterns are kept in the
  RE2 ∩ Java-regex common subset so Spark and DuckDB compile them
  identically.
- `text_gopher_quality` — Gopher-style per-doc quality rules (word
  count band, mean word length band, stopword floor) with exact
  integer/float math (sums of int lengths; one final double division).
- `filter_quality_rank` — per-language percentile band keep-filter done
  in pure integer arithmetic (20*rn > cnt AND 20*rn <= 19*cnt ==
  percent-rank in (5%, 95%]) — no float thresholds to disagree on.
- `sample_stratified` — per-language sampling at different rates via
  md5-prefix thresholds: deterministic, shuffle-free, stable under
  re-runs and repartitioning (same rationale as `sample_hash_bucket`).
- `text_contamination_overlap` — train/benchmark n-gram overlap: per
  training doc, how many of its distinct token trigrams appear in any
  benchmark doc. THE decontamination primitive: benchmark trigram set
  is small -> broadcast; the corpus side never shuffles until the tiny
  per-doc count aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mediaplaycounts_spark.operators import dedup as D
from mediaplaycounts_spark.registry import Production, register
from mediaplaycounts_spark.tables import load_table

# ------------------------------------------------------------------ PII

_EMAIL_RE = r"[a-z0-9]+@[a-z]+\.[a-z]+"
_PHONE_RE = r"\+1-555-[0-9]{4}"


def guarded_redact(col: F.Column) -> F.Column:
    """PII redaction with literal-anchor guards (r11 optimization
    round, guide §1.2 per-task work): each redaction regex runs only on
    rows containing its literal anchor — ``@`` is required by
    ``_EMAIL_RE``, ``+1-555-`` by ``_PHONE_RE`` — and a ``contains()``
    scan is ~10x cheaper than the regex scan it gates, while most real
    (and all graded) rows carry no PII. The guards are equivalence-
    preserving: ``<EMAIL>`` substitution can neither create nor destroy
    a ``+1-555-`` occurrence since no email match contains ``+`` or
    ``-``. Module-level (ADVICE r11) so the pipeline and the
    adversarial equivalence test exercise the SAME expression."""
    detexted = F.when(
        col.contains("@"), F.regexp_replace(col, _EMAIL_RE, "<EMAIL>")
    ).otherwise(col)
    return F.when(
        col.contains("+1-555-"), F.regexp_replace(detexted, _PHONE_RE, "<PHONE>")
    ).otherwise(detexted)


@register(
    "text_pii_redact",
    oracle=f"""
        WITH synth AS (
            SELECT doc_id,
                   'Contact user' || CAST(doc_id AS VARCHAR)
                   || '@example.com or +1-555-'
                   || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   || ' ' || text AS raw
            FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(raw, '{_EMAIL_RE}')) AS BIGINT)
                 AS n_emails,
               CAST(len(regexp_extract_all(raw, '{_PHONE_RE}')) AS BIGINT)
                 AS n_phones,
               regexp_replace(regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
        FROM synth
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub: count + redact emails/phones in one narrow projection
    (scan -> project, zero shuffle; regex eval stays in codegen). Spark's
    regexp_replace is global by default; DuckDB needs the explicit 'g'."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.lit("Contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        redacted.alias("redacted"),
    )


# -------------------------------------------------------- Gopher rules

#: Word-count band and stopword floor tuned to the synthetic corpus so
#: both keep- and drop- branches are exercised; the mean-word-length
#: band mirrors Gopher's [3, 10].
_MIN_WORDS, _MAX_WORDS = 30, 70
_MIN_MWL, _MAX_MWL = 3.0, 6.0
_STOP_FLOOR = 2
_STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "it")


@register(
    "text_gopher_quality",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks
                   FROM documents),
             m AS (SELECT doc_id, lang,
                          CAST(len(toks) AS BIGINT) AS n_words,
                          CAST(list_sum(list_transform(toks, w -> len(w)))
                               AS DOUBLE) / len(toks) AS mwl,
                          CAST(len(list_filter(toks,
                                   w -> list_contains({list(_STOPWORDS)}, w)))
                               AS BIGINT) AS stop_count
                   FROM t)
        SELECT doc_id, lang, n_words, round(mwl, 6) AS mean_word_len,
               stop_count,
               CAST(n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                    AND mwl >= {_MIN_MWL} AND mwl <= {_MAX_MWL}
                    AND stop_count >= {_STOP_FLOOR} AS BIGINT) AS keep
        FROM m
    """,
)
def text_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality gate: word-count band, mean-word-length band,
    stopword floor -> keep flag (emitted as 0/1 BIGINT so the value-hash
    never depends on boolean serialization). All metrics are exact
    integer sums with one final double division; narrow plan, zero
    shuffle, fully codegen'd higher-order array functions."""
    docs = load_table(spark, sf_dir, "documents")
    stoplist = F.array(*[F.lit(w) for w in _STOPWORDS])
    toks = D.tokens("text")
    n_words = F.size(toks).cast("long")
    # Sum of token lengths computed ARITHMETICALLY: split(" ") consumes
    # exactly one separator char per boundary, so Σ len(tok) =
    # len(text) − (n_tokens − 1) — same exact integer as the old
    # per-token transform+aggregate fold, without materializing a
    # lengths array per row (the fold allocated and walked an int
    # array per document; this is two column reads).
    mwl = (F.length("text") - F.size(toks) + F.lit(1)).cast(
        "double"
    ) / F.size(toks)
    stop_count = F.size(
        F.filter(toks, lambda w: F.array_contains(stoplist, w))
    ).cast("long")
    keep = (
        n_words.between(_MIN_WORDS, _MAX_WORDS)
        & (mwl >= _MIN_MWL)
        & (mwl <= _MAX_MWL)
        & (stop_count >= _STOP_FLOOR)
    )
    return docs.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        F.round(mwl, 6).alias("mean_word_len"),
        stop_count.alias("stop_count"),
        keep.cast("long").alias("keep"),
    )


# --------------------------------------------------- percentile band keep


@register(
    "filter_quality_rank",
    oracle="""
        WITH r AS (SELECT doc_id, lang, n_chars,
                          row_number() OVER (PARTITION BY lang
                                             ORDER BY n_chars, doc_id) AS rn,
                          COUNT(*) OVER (PARTITION BY lang) AS cnt
                   FROM documents)
        SELECT doc_id, lang, n_chars
        FROM r WHERE 20 * rn > cnt AND 20 * rn <= 19 * cnt
    """,
)
def filter_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile band filter: drop the shortest 5% and
    longest 5% of docs by n_chars. The band test is pure integer
    arithmetic on (row_number, count) — engines can't disagree on a
    float percentile interpolation that was never computed. One shuffle
    on lang; at 100 TB swap row_number for a two-pass approx-quantile
    threshold to avoid the single-partition-per-lang window."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wc = Window.partitionBy("lang")
    return (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wc).alias("cnt"),
        )
        .filter((20 * F.col("rn") > F.col("cnt")) & (20 * F.col("rn") <= 19 * F.col("cnt")))
        .select("doc_id", "lang", "n_chars")
    )


# ----------------------------------------------------- stratified sample

#: md5-prefix keep thresholds per language: en 128/256 = 50%,
#: zh 26/256 ~ 10%, others 77/256 ~ 30% — up/down-weighting languages is
#: exactly how corpus mixes are tuned.
_RATE_HEX = {"en": "80", "zh": "1a"}
_RATE_DEFAULT = "4d"


@register(
    "sample_stratified",
    oracle=f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
              CASE lang WHEN 'en' THEN '{_RATE_HEX["en"]}'
                        WHEN 'zh' THEN '{_RATE_HEX["zh"]}'
                        ELSE '{_RATE_DEFAULT}' END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling: keep iff the md5 prefix of the
    stable doc key falls under the stratum's threshold. Same plan shape
    as sample_hash_bucket (scan -> filter, zero shuffle, no RNG state);
    a doc's fate is a pure function of (doc_id, lang) — reproducible
    across re-runs, cluster sizes, and late-arriving partitions."""
    docs = load_table(spark, sf_dir, "documents")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    threshold = (
        F.when(F.col("lang") == "en", _RATE_HEX["en"])
        .when(F.col("lang") == "zh", _RATE_HEX["zh"])
        .otherwise(_RATE_DEFAULT)
    )
    return docs.filter(prefix < threshold).select("doc_id", "lang", "source")


# ------------------------------------------------ contamination overlap

#: Benchmark membership: doc_id % 97 == 0 (~1% of the corpus) — stands
#: in for "the eval set" without needing an extra table.
_BENCH_MOD = 97
_CONTAM_FLOOR = 3


@register(
    "text_contamination_overlap",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
             tg AS (SELECT DISTINCT doc_id,
                           unnest(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                             AS trigram
                    FROM toks WHERE len(t) >= 3),
             bench AS (SELECT DISTINCT trigram FROM tg
                       WHERE doc_id % {_BENCH_MOD} = 0),
             hits AS (SELECT tg.doc_id, COUNT(*) AS n_shared
                      FROM tg JOIN bench USING (trigram)
                      WHERE tg.doc_id % {_BENCH_MOD} <> 0
                      GROUP BY tg.doc_id)
        SELECT d.doc_id,
               COALESCE(h.n_shared, 0) AS n_shared,
               CAST(COALESCE(h.n_shared, 0) >= {_CONTAM_FLOOR} AS BIGINT)
                 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % {_BENCH_MOD} <> 0
    """,
)
def text_contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: per training doc, the number of its
    DISTINCT token trigrams that occur in any benchmark doc, plus a
    contaminated flag. Per-doc dedup happens BEFORE the explode
    (array_distinct — no shuffle spent on DISTINCT); the benchmark
    trigram set is broadcast, so the training side's only shuffle is the
    tiny per-doc hit count. At 100 TB the benchmark set (real eval
    suites are < 1 GB of trigrams) still broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    trigrams = _distinct_trigrams(docs)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = trigrams.filter(is_bench).select("trigram").distinct()
    hits = (
        trigrams.filter(~is_bench)
        .join(F.broadcast(bench), "trigram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    return (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= _CONTAM_FLOOR)
            .cast("long")
            .alias("contaminated"),
        )
    )


# ------------------------------------------------ URL canonicalization

#: Deterministic synthetic URL per doc (the corpus has no URLs): host
#: case varies by parity, ~1% path collision space per (source, lang),
#: and tracking-query / fragment / trailing-slash noise by residue —
#: so canonicalization has real work and real duplicates to find.
_URL_SQL = """
    'https://' ||
    CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END ||
    '.Example.COM/' || lang || '/page-' || CAST(doc_id % 100 AS STRING) ||
    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
    CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&utm_campaign=x'
         ELSE '' END ||
    CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END
"""

#: RE2 ∩ Java-regex canonicalization passes, applied in order: strip
#: fragment, strip utm-only query, strip trailing slash; lowercase last.
_URL_STRIP = (r"#.*$", r"\?utm_[^#]*$", r"/+$")


@register(
    "dedup_url_canonical",
    oracle=f"""
        WITH u AS (SELECT doc_id, {_URL_SQL} AS url FROM documents),
        c AS (SELECT doc_id,
                     lower(
                       regexp_replace(
                         regexp_replace(
                           regexp_replace(url, '{_URL_STRIP[0]}', ''),
                           '{_URL_STRIP[1]}', ''),
                         '{_URL_STRIP[2]}', '')) AS canon_url
              FROM u)
        SELECT canon_url,
               MIN(doc_id) AS keeper_id,
               COUNT(*) AS n_dupes
        FROM c GROUP BY canon_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup: normalize crawl URLs (drop fragment,
    drop utm-only tracking query, drop trailing slash, lowercase) and
    collapse to one keeper per canonical URL (min doc_id) with the
    duplicate count. Regexes stay in the RE2 ∩ Java common subset so
    both engines rewrite identically.

    Plan: the synthesis + three regexp_replace passes + lower are one
    narrow codegen projection; the only shuffle is the final groupBy on
    the canonical key. At 100 TB this is the first pass of crawl dedup
    — run before any content hashing, since it needs no text IO at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    u = docs.select("doc_id", F.expr(_URL_SQL).alias("url"))
    canon = F.col("url")
    for pat in _URL_STRIP:
        canon = F.regexp_replace(canon, pat, "")
    return (
        u.select("doc_id", F.lower(canon).alias("canon_url"))
        .groupBy("canon_url")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_dupes"),
        )
    )


# ------------------------------------------------- paragraph-level dedup

#: Exactly-10-word boilerplate lines (one per doc_id % 3) prepended to
#: every doc before chunking: with a 10-word chunk size the boilerplate
#: IS chunk 0, so corpus-wide paragraph dedup has real, known work
#: (CCNet-style boilerplate removal) on an otherwise-synthetic corpus.
_BOILERPLATE_SQL = """
    CASE doc_id % 3
      WHEN 0 THEN 'please subscribe to our daily newsletter and follow us today'
      WHEN 1 THEN 'all rights reserved please contact the publisher for reuse terms'
      ELSE 'click here to read the full article on our site'
    END
"""

_PARA_WORDS = 10


@register(
    "dedup_paragraphs",
    oracle=f"""
        WITH aug AS (SELECT doc_id,
                            ({_BOILERPLATE_SQL}) || ' ' || text AS text
                     FROM documents),
        toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM aug),
        idx AS (SELECT doc_id, t,
                       unnest(range(0, CAST(ceil(len(t) / {_PARA_WORDS}.0)
                                            AS BIGINT))) AS pos
                FROM toks),
        paras AS (SELECT doc_id, pos,
                         array_to_string(
                           list_slice(t, pos * {_PARA_WORDS} + 1,
                                      pos * {_PARA_WORDS} + {_PARA_WORDS}),
                           ' ') AS para
                  FROM idx),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY para
                                 ORDER BY doc_id, pos) AS rn
                   FROM paras),
        kept AS (SELECT doc_id, pos, para FROM ranked WHERE rn = 1),
        tot AS (SELECT doc_id, COUNT(*) AS n_paras FROM paras GROUP BY doc_id),
        ka AS (SELECT doc_id, COUNT(*) AS n_kept,
                      string_agg(para, ' ' ORDER BY pos) AS clean_text
               FROM kept GROUP BY doc_id)
        SELECT tot.doc_id, tot.n_paras,
               COALESCE(ka.n_kept, 0) AS n_kept,
               COALESCE(ka.clean_text, '') AS clean_text
        FROM tot LEFT JOIN ka ON tot.doc_id = ka.doc_id
    """,
)
def dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style paragraph-level dedup: chunk each doc into 10-word
    paragraphs, keep only the FIRST corpus-wide occurrence of each
    paragraph (ordered by doc_id, then position), and reassemble docs
    from their surviving paragraphs. The planted boilerplate line is
    kept once in its lowest-doc_id host and stripped everywhere else.

    Plan: chunking is one narrow higher-order projection
    (`transform(sequence)` + `slice` + `array_join`, all codegen); the
    first-occurrence choice is one window over the paragraph hash key;
    reassembly is a per-doc sort-free `array_sort(collect_list(struct))`.
    At 100 TB, partition the window by a 64-bit paragraph hash (the
    natural shuffle key — near-uniform), and the reassembly shuffle is
    keyed by doc_id; nothing ever materializes the corpus driver-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(F.expr(_BOILERPLATE_SQL), F.lit(" "), F.col("text")).alias("text"),
    )
    # stage the tokenization: split() once per row, not once per chunk
    # (inlining it into the lambda re-splits per paragraph — same
    # O(words^2)/doc trap fixed in dedup_substring_spans)
    toks = aug.select("doc_id", F.split("text", " ").alias("t"))
    paras = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t) / {_PARA_WORDS}.0) as int) - 1),"
                f" i -> array_join(slice(t, i * {_PARA_WORDS} + 1, {_PARA_WORDS}), ' '))"
            )
        ).alias("pos", "para"),
    )
    first = Window.partitionBy("para").orderBy("doc_id", "pos")
    ranked = paras.withColumn("rn", F.row_number().over(first))
    kept = ranked.filter(F.col("rn") == 1)
    # n_paras counts over `ranked`, not `paras` (r11 optimization
    # round): row_number adds a column and drops nothing, so the two
    # tables have identical (doc_id, pos) rows — but counting the
    # pre-window `paras` re-derived the whole chunking explode from the
    # scan (its aggregate exchanges by doc_id while the window
    # exchanges by para, so not even AQE stage reuse could share them).
    # Counting the window output reads the para-keyed exchange that
    # already exists: one corpus tokenization pass instead of two.
    tot = ranked.groupBy("doc_id").agg(F.count("*").alias("n_paras"))
    ka = kept.groupBy("doc_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s.para,
            ),
            " ",
        ).alias("clean_text"),
    )
    return tot.join(ka, "doc_id", "left").select(
        "doc_id",
        "n_paras",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
    )


# --------------------------------------------------- rare-word density


@register(
    "text_rarity_score",
    oracle="""
        WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                      FROM documents),
        freq AS (SELECT word, COUNT(*) AS n FROM toks GROUP BY word)
        SELECT toks.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(1000000 // freq.n) AS BIGINT) AS rarity_score
        FROM toks JOIN freq ON toks.word = freq.word
        GROUP BY toks.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-word density score per doc: sum over token occurrences of
    ``1e6 div corpus_freq(word)`` — the integer-exact stand-in for a
    unigram-LM surprisal sum (a log would reintroduce libm drift; the
    reciprocal keeps the same ordering signal: rare tokens contribute
    big, stopwords contribute ~0). Used as a quality/novelty filter
    axis alongside Gopher rules.

    Plan: explode -> one vocabulary hash agg -> join back -> per-doc
    sum. The vocabulary side is Zipf-bounded, so at 100 TB it
    broadcast-joins; the per-doc agg shuffles on doc_id once."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    # Single pass: reduce to (doc, word) counts once; both the corpus
    # frequency and the per-doc sum derive from that small table, so the
    # raw token stream is exploded exactly once and the join carries
    # vocabulary-sized rows.
    dw = toks.groupBy("doc_id", "word").agg(F.count("*").alias("c"))
    freq = dw.groupBy("word").agg(F.sum("c").alias("n"))
    return (
        dw.join(freq, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.sum(F.expr("c * (1000000 div n)")).cast("long").alias("rarity_score"),
        )
    )


@register(
    "pipeline_curate_corpus",
    oracle=f"""
        WITH t AS (SELECT doc_id, lang, text, string_split(text, ' ') AS toks
                   FROM documents),
        m AS (SELECT doc_id, lang, text,
                     CAST(len(toks) AS BIGINT) AS n_words,
                     CAST(list_sum(list_transform(toks, w -> len(w)))
                          AS DOUBLE) / len(toks) AS mwl,
                     CAST(len(list_filter(toks,
                              w -> list_contains({list(_STOPWORDS)}, w)))
                          AS BIGINT) AS sc
              FROM t),
        kept AS (SELECT doc_id, lang, text, n_words FROM m
                 WHERE n_words BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
                   AND mwl >= {_MIN_MWL} AND mwl <= {_MAX_MWL}
                   AND sc >= {_STOP_FLOOR}),
        keeper AS (SELECT MIN(doc_id) AS doc_id FROM kept
                   GROUP BY sha256(text)),
        surv AS (SELECT kept.doc_id, kept.lang, kept.n_words
                 FROM keeper JOIN kept ON keeper.doc_id = kept.doc_id)
        SELECT doc_id, lang, n_words,
               CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '0d'
                    THEN 'test'
                    WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
                    THEN 'valid'
                    ELSE 'train' END AS split
        FROM surv
    """,
)
def pipeline_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end curation pipeline in one declarative plan:
    Gopher-style quality gate -> exact-dedup keeper (sha256, min-id
    survivor) -> deterministic md5-prefix train/valid/test split. Raw
    corpus in, training-ready doc manifest out — the composition every
    pretraining run executes, here as one Catalyst plan (gate is a
    narrow codegen'd projection; dedup is the single keyed shuffle;
    split is a pure function).

    At 100 TB each stage keeps its own shape: the gate prunes before
    the shuffle (cheapest first), the dedup groupBy carries only
    (hash, doc_id), and the split adds zero movement. Swap the exact
    dedup for dedup_minhash_clusters' pipeline when near-dups matter."""
    docs = load_table(spark, sf_dir, "documents")
    stoplist = F.array(*[F.lit(w) for w in _STOPWORDS])
    toks = D.tokens("text")
    n_words = F.size(toks).cast("long")
    # Arithmetic token-length sum (see text_gopher_quality): exact
    # same integer as the per-token fold, no per-row lengths array.
    mwl = (F.length("text") - F.size(toks) + F.lit(1)).cast(
        "double"
    ) / F.size(toks)
    sc = F.size(F.filter(toks, lambda w: F.array_contains(stoplist, w)))
    kept = docs.filter(
        n_words.between(_MIN_WORDS, _MAX_WORDS)
        & (mwl >= _MIN_MWL)
        & (mwl <= _MAX_MWL)
        & (sc >= _STOP_FLOOR)
    ).select("doc_id", "lang", "text", n_words.alias("n_words"))
    keeper = kept.groupBy(F.sha2("text", 256).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    surv = keeper.select("doc_id").join(kept, "doc_id")
    prefix = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return surv.select(
        "doc_id",
        "lang",
        "n_words",
        F.when(prefix < "0d", F.lit("test"))
        .when(prefix < "1a", F.lit("valid"))
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# ------------------------------------------- Bloom-filter decontamination

#: Bloom geometry: 2^17 bits (= 2048 int64 words, 16 KiB) at k=5 hashes.
#: For the graded benchmark trigram set (~10^4 items) that is ~13 bits
#: per item => theoretical fpp ~0.3%; at 100 TB, size m to the real
#: reference set (1 GiB of bitmap covers ~10^9 trigrams at 1% fpp).
_BLOOM_BITS = 1 << 17
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 5


def _distinct_trigrams(docs: DataFrame) -> DataFrame:
    """Per-doc DISTINCT token trigrams (dedup before explode — no
    shuffle spent on DISTINCT; tokenization STAGED so split() runs once
    per row, not once per trigram position). Shared by the exact and
    Bloom decontamination keys."""
    t = D.tokens("text")
    toks = docs.filter(F.size(t) >= 3).select("doc_id", t.alias("t"))
    return toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, size(t) - 2),"
                    " i -> concat(element_at(t, i), ' ',"
                    "             element_at(t, i + 1), ' ',"
                    "             element_at(t, i + 2)))"
                )
            )
        ).alias("trigram"),
    )


def _bloom_positions(col, i: int):
    """Bit position of hash i for a value: xxhash64(value, seed-lit i)
    mod m. Seeding via an extra hashed literal keeps the k hash
    functions independent without any RNG."""
    return F.pmod(F.xxhash64(col, F.lit(i)), F.lit(_BLOOM_BITS))


def _build_bloom_bitmap(spark: SparkSession, values: DataFrame, col: str) -> list[int]:
    """DISTRIBUTED Bloom build: explode each value into its k bit
    positions, bit_or-fold them into 64-bit words (one tiny shuffle over
    <= m/64 groups), and fetch the <= 16 KiB bitmap to the driver for
    broadcast — the same bounded-collect pattern as the IVF centroid
    table (operators/similarity.py). At 100 TB the build is one linear
    pass over the reference set; the probe side never shuffles for it."""
    pos = values.select(
        F.explode(
            F.array(*[_bloom_positions(F.col(col), i) for i in range(_BLOOM_K)])
        ).alias("p")
    )
    words = (
        pos.select(
            (F.col("p") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(p, 64) AS INT))").alias(
                "b"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )
    bitmap = {r.w: r.bits for r in words.collect()}
    return [bitmap.get(i, 0) for i in range(_BLOOM_WORDS)]


def _bloom_member(bits_lit, colname: str):
    """JVM-side membership probe: all k bits set in the broadcast
    bitmap literal (constant-folded by Catalyst — no per-row array
    construction survives into codegen)."""
    cond = F.lit(True)
    for i in range(_BLOOM_K):
        p = f"pmod(xxhash64({colname}, {i}), {_BLOOM_BITS})"
        w = f"CAST({p} / 64 AS INT)"
        b = f"shiftleft(CAST(1 AS BIGINT), CAST(pmod({p}, 64) AS INT))"
        cond = cond & (
            F.element_at(bits_lit, F.expr(w) + 1).bitwiseAND(F.expr(b)) != 0
        )
    return cond


def _bloom_raw_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-training-doc BLOOM hit counts (the raw approximate side)."""
    docs = load_table(spark, sf_dir, "documents")
    tg = _distinct_trigrams(docs)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = tg.filter(is_bench).select("trigram").distinct()
    arr = _build_bloom_bitmap(spark, bench, "trigram")
    # ONE ArrayType Literal node (r12): the old CreateArray form put
    # _BLOOM_WORDS (2048) lit+cast children in the tree, and
    # _bloom_member embeds bits_lit k=5 times — ~20k analyzer nodes
    # for a constant. Identical folded value, same element type.
    import numpy as np

    bits_lit = F.lit(np.asarray(arr, dtype=np.int64))
    return (
        tg.filter(~is_bench)
        .filter(_bloom_member(bits_lit, "trigram"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_bloom"))
    )


def _bound_contamination_bloom(
    spark: SparkSession, sf_dir: str, result: DataFrame
) -> str:
    """No false negatives (structural — every true member's bits are
    set) and measured corpus FP excess below 2% of probed trigrams'
    exact hits + slack; the registered key's within_bound asserts the
    same in-plan."""
    docs = load_table(spark, sf_dir, "documents")
    tg = _distinct_trigrams(docs)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = tg.filter(is_bench).select("trigram").distinct()
    exact = {
        r.doc_id: r.n
        for r in tg.filter(~is_bench)
        .join(F.broadcast(bench), "trigram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    bloom = {r.doc_id: r.n_bloom for r in _bloom_raw_hits(spark, sf_dir).collect()}
    for d, n in exact.items():
        assert bloom.get(d, 0) >= n, (d, bloom.get(d, 0), n)
    fp_total = sum(bloom.values()) - sum(exact.values())
    n_probed = tg.filter(~is_bench).count()
    assert fp_total <= max(5, 0.02 * n_probed), (fp_total, n_probed)
    flags = [r.within_bound for r in result.collect()]
    assert flags and all(flags), "registered within_bound has FALSE rows"
    return (
        f"no false negatives over {len(exact)} contaminated docs; "
        f"{fp_total} false-positive trigram hits of {n_probed} probed"
    )


@register(
    "text_contamination_bloom",
    oracle=f"""
        WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                      FROM documents),
             tg AS (SELECT DISTINCT doc_id,
                           unnest(list_transform(range(1, len(t) - 1),
                                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                             AS trigram
                    FROM toks WHERE len(t) >= 3),
             bench AS (SELECT DISTINCT trigram FROM tg
                       WHERE doc_id % {_BENCH_MOD} = 0),
             hits AS (SELECT tg.doc_id, COUNT(*) AS n_shared
                      FROM tg JOIN bench USING (trigram)
                      WHERE tg.doc_id % {_BENCH_MOD} <> 0
                      GROUP BY tg.doc_id)
        SELECT d.doc_id,
               COALESCE(h.n_shared, 0) AS n_shared,
               CAST(COALESCE(h.n_shared, 0) >= {_CONTAM_FLOOR} AS BIGINT)
                 AS contaminated,
               TRUE AS within_bound
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.doc_id % {_BENCH_MOD} <> 0
    """,
    bound=_bound_contamination_bloom,
)
def text_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter eval-set decontamination — the 100 TB scale path for
    `text_contamination_overlap`: instead of broadcasting the exact
    benchmark trigram SET (strings; ~GBs for real eval suites), ship a
    16 KiB bit ARRAY. The filter is built distributedly (explode k bit
    positions -> bit_or into 64-bit words -> one tiny shuffle), fetched
    bounded to the driver, and probed entirely in codegen (element_at +
    bitwiseAND on a constant-folded literal array — no join, no shuffle
    on the probe side). Bloom guarantees NO false negatives; false
    positives only ever INFLATE a doc's hit count.

    Driver-checkable form (same contract as the r3 within_bound keys):
    the output carries the EXACT per-doc hit counts and contaminated
    flag (hash-matched against the DuckDB twin) plus ``within_bound`` =
    (every doc's bloom count >= its exact count) AND (corpus-wide FP
    excess <= max(5, 2% of probed trigrams)). The registered bound
    re-asserts the same on the raw counts."""
    docs = load_table(spark, sf_dir, "documents")
    tg = _distinct_trigrams(docs)
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench = tg.filter(is_bench).select("trigram").distinct()
    exact_hits = (
        tg.filter(~is_bench)
        .join(F.broadcast(bench), "trigram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    bloom_hits = _bloom_raw_hits(spark, sf_dir)
    per_doc = (
        docs.filter(~is_bench)
        .select("doc_id")
        .join(exact_hits, "doc_id", "left")
        .join(bloom_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            F.coalesce("n_bloom", F.lit(0)).alias("n_bloom"),
        )
    )
    n_probed = tg.filter(~is_bench).agg(F.count("*").alias("n_probed"))
    summary = per_doc.agg(
        F.sum(F.when(F.col("n_bloom") < F.col("n_shared"), 1).otherwise(0)).alias(
            "n_fn_docs"
        ),
        (F.sum("n_bloom") - F.sum("n_shared")).alias("fp_total"),
    )
    flag = summary.crossJoin(n_probed).select(
        (
            (F.col("n_fn_docs") == 0)
            & (
                F.col("fp_total")
                <= F.greatest(F.lit(5.0), 0.02 * F.col("n_probed"))
            )
        ).alias("within_bound")
    )
    return per_doc.crossJoin(F.broadcast(flag)).select(
        "doc_id",
        "n_shared",
        (F.col("n_shared") >= _CONTAM_FLOOR).cast("long").alias("contaminated"),
        "within_bound",
    )


# ----------------------------------- code-vs-prose detection (round 4)


@register(
    "text_code_detection",
    oracle="""
        WITH m AS (
            SELECT doc_id, lang,
                   length(text) AS n_chars,
                   length(text) - length(regexp_replace(text,
                       '[{}()\\[\\];=<>|&]', '', 'g')) AS n_code_chars,
                   length(text) - length(replace(text, '_', ''))
                     AS n_underscore,
                   len(list_filter(string_split(text, ' '),
                       x -> x <> '')) AS n_words
            FROM documents),
        s AS (
            SELECT *,
                   CAST(n_code_chars * 1000000 // n_chars AS BIGINT)
                     AS code_char_ppm,
                   CAST(n_underscore * 1000000 // n_chars AS BIGINT)
                     AS underscore_ppm
            FROM m WHERE n_chars > 0)
        SELECT doc_id, lang, code_char_ppm, underscore_ppm,
               CAST(code_char_ppm >= 20000
                    OR underscore_ppm >= 10000 AS BIGINT) AS is_code_like
        FROM s
    """,
)
def text_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CODE-vs-PROSE detection: the symbol-density heuristic every LLM
    corpus pipeline runs to route documents to the code pipeline or the
    prose pipeline (separate dedup thresholds, separate quality gates,
    separate sampling temperatures). Signals: density of code glyphs
    ({}()[];=<>|&) and of snake_case underscores, both exact integer
    ppm; the flag is the standard 2%-symbol / 1%-underscore cut.

    Pure codegen projection (two regexp delete-and-diff lengths + one
    split), zero shuffle, trivially linear — the cheapest router in
    the curation stack, which is exactly why it runs FIRST at 100 TB.
    The character classes avoid regex-engine divergence (no shorthand
    classes, no lookaround — Java and RE2 agree on explicit classes).
    """
    docs = load_table(spark, sf_dir, "documents")
    # translate() deletes exactly the same single-char set the old
    # regexp_replace character class did (r11 optimization round;
    # guide §1.2 per-task work): the class has no ranges or shorthand,
    # so char-set deletion ≡ regex deletion, and translate is a plain
    # per-char set lookup instead of a regex-engine scan — identical
    # n_code_chars on every row, measurably cheaper on the hottest
    # narrow stage (this router runs over the FULL corpus first).
    m = docs.selectExpr(
        "doc_id",
        "lang",
        "length(text) AS n_chars",
        "length(text) - length(translate(text,"
        " '{}()[];=<>|&', '')) AS n_code_chars",
        "length(text) - length(replace(text, '_', '')) AS n_underscore",
    ).filter(F.col("n_chars") > 0)
    return m.selectExpr(
        "doc_id",
        "lang",
        "CAST(n_code_chars * 1000000 div n_chars AS BIGINT)"
        " AS code_char_ppm",
        "CAST(n_underscore * 1000000 div n_chars AS BIGINT)"
        " AS underscore_ppm",
        "CAST(CAST(n_code_chars * 1000000 div n_chars >= 20000"
        " OR n_underscore * 1000000 div n_chars >= 10000 AS BOOLEAN)"
        " AS BIGINT) AS is_code_like",
    )


# --------------------------- end-to-end curation composition (round 7)

#: e2e shard size: 4 KiB (vs pipeline_shard_manifest's 8 KiB) so the
#: manifest stage produces shard_idx > 0 already at the graded SFs —
#: a value-live stage, not a constant column.
_E2E_SHARD_BYTES = 4096

#: Near-dup merge point for the e2e composition: tighter than
#: dedup_clusters' 0.05 sweep threshold — in a curation pass only
#: confident near-dups (doc families, boilerplate clones) should
#: collapse; borderline pairs are a human/recall question, not a
#: drop-by-default one.
_E2E_NEAR_THRESHOLD = 0.6

_E2E_SQL = f"""
    WITH RECURSIVE
    base AS MATERIALIZED (
        SELECT doc_id, lang,
               regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g') AS rtext
        FROM documents
        WHERE length(text) > 0
          AND NOT ((length(text) - length(regexp_replace(text,
                       '[{{}}()\\[\\];=<>|&]', '', 'g'))) * 1000000
                       // length(text) >= 20000
                OR (length(text) - length(replace(text, '_', ''))) * 1000000
                       // length(text) >= 10000)
    ),
    g AS MATERIALIZED (
        SELECT doc_id, lang, rtext, string_split(rtext, ' ') AS toks FROM base
    ),
    kept AS MATERIALIZED (
        SELECT doc_id, lang, rtext, CAST(len(toks) AS BIGINT) AS n_tokens
        FROM g
        WHERE len(toks) BETWEEN {_MIN_WORDS} AND {_MAX_WORDS}
          AND CAST(list_sum(list_transform(toks, w -> len(w))) AS DOUBLE)
                / len(toks) BETWEEN {_MIN_MWL} AND {_MAX_MWL}
          AND len(list_filter(toks,
                  w -> list_contains({list(_STOPWORDS)}, w))) >= {_STOP_FLOOR}
    ),
    exk AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY sha256(rtext)),
    exd AS MATERIALIZED (SELECT k.* FROM kept k JOIN exk USING (doc_id)),
    sh AS MATERIALIZED (
        SELECT doc_id, lang,
               list_distinct(list_transform(
                   generate_series(1,
                       greatest(len(string_split(rtext,' ')) - 1, 1)),
                   i -> array_to_string(string_split(rtext,' ')[i:i+1], ' ')))
                 AS s
        FROM exd
    ),
    ex2 AS MATERIALIZED (SELECT doc_id, lang, unnest(s) AS gr FROM sh),
    inter AS MATERIALIZED (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM ex2 a JOIN ex2 b ON a.gr = b.gr AND a.lang = b.lang
                             AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    p AS MATERIALIZED (
        SELECT id_a, id_b
        FROM inter
        JOIN (SELECT doc_id, len(s) AS n FROM sh) na ON na.doc_id = inter.id_a
        JOIN (SELECT doc_id, len(s) AS n FROM sh) nb ON nb.doc_id = inter.id_b
        WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {_E2E_NEAR_THRESHOLD}
    ),
    e0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
                        UNION ALL SELECT id_b, id_a FROM p),
    h1 AS MATERIALIZED (SELECT src AS node, LEAST(src, MIN(dst)) AS h
                        FROM e0 GROUP BY src),
    e1 AS MATERIALIZED (SELECT DISTINCT ha.h AS src, hb.h AS dst
           FROM e0 JOIN h1 ha ON ha.node = e0.src
                   JOIN h1 hb ON hb.node = e0.dst
           WHERE ha.h <> hb.h),
    h2 AS MATERIALIZED (SELECT src AS node, LEAST(src, MIN(dst)) AS h
                        FROM e1 GROUP BY src),
    e2 AS MATERIALIZED (SELECT DISTINCT ha.h AS src, hb.h AS dst
           FROM e1 JOIN h2 ha ON ha.node = e1.src
                   JOIN h2 hb ON hb.node = e1.dst
           WHERE ha.h <> hb.h),
    reach(node, r) AS (
        SELECT src, src FROM e2
        UNION
        SELECT e2.dst, reach.r FROM reach JOIN e2 ON e2.src = reach.node
    ),
    comp2 AS (SELECT node, MIN(r) AS rep FROM reach GROUP BY node),
    lift AS MATERIALIZED (
        SELECT h1.node, COALESCE(comp2.rep, h2.h, h1.h) AS cluster_rep
        FROM h1 LEFT JOIN h2 ON h2.node = h1.h
                LEFT JOIN comp2 ON comp2.node = COALESCE(h2.h, h1.h)
    ),
    near AS MATERIALIZED (
        SELECT e.* FROM exd e LEFT JOIN lift ON lift.node = e.doc_id
        WHERE COALESCE(lift.cluster_rep, e.doc_id) = e.doc_id
    ),
    btoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
              WHERE doc_id % {_BENCH_MOD} = 0),
    bench AS MATERIALIZED (
        SELECT DISTINCT unnest(list_transform(range(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS trigram
        FROM btoks WHERE len(t) >= 3
    ),
    ttg AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(
                   range(1, len(string_split(rtext,' ')) - 1),
                   i -> string_split(rtext,' ')[i] || ' ' ||
                        string_split(rtext,' ')[i+1] || ' ' ||
                        string_split(rtext,' ')[i+2])) AS trigram
        FROM near WHERE len(string_split(rtext,' ')) >= 3
    ),
    hits AS MATERIALIZED (
        SELECT ttg.doc_id, COUNT(*) AS n_shared
        FROM ttg JOIN bench USING (trigram) GROUP BY ttg.doc_id
    ),
    clean AS MATERIALIZED (
        SELECT n.* FROM near n LEFT JOIN hits h ON n.doc_id = h.doc_id
        WHERE n.doc_id % {_BENCH_MOD} <> 0
          AND COALESCE(h.n_shared, 0) < {_CONTAM_FLOOR}
    ),
    lc AS (SELECT lang, COUNT(*) AS n FROM clean GROUP BY lang),
    lk AS (SELECT MIN(n) AS n_min FROM lc),
    lr AS MATERIALIZED (
        SELECT lang, CAST(n_min * 1000000 // n AS BIGINT) AS rate_ppm
        FROM lc CROSS JOIN lk),
    final AS MATERIALIZED (
        SELECT c.doc_id, c.lang, c.rtext, c.n_tokens
        FROM clean c JOIN lr USING (lang)
        WHERE lr.rate_ppm >= 1000000
           OR substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8)
              < lower(lpad(hex(CAST(lr.rate_ppm * 4294967296 // 1000000
                                    AS BIGINT)), 8, '0'))
    ),
    d AS MATERIALIZED (
        SELECT doc_id, doc_id % 8 AS shard, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY doc_id % 8
                                  ORDER BY doc_id) AS rn
        FROM final
    ),
    pack(shard, rn, doc_id, n_tokens, bin_idx, fill) AS (
        SELECT shard, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.shard, d.rn, d.doc_id, d.n_tokens,
               CASE WHEN pack.fill + d.n_tokens > 128
                    THEN pack.bin_idx + 1 ELSE pack.bin_idx END,
               CASE WHEN pack.fill + d.n_tokens > 128
                    THEN d.n_tokens ELSE pack.fill + d.n_tokens END
        FROM d JOIN pack ON d.shard = pack.shard AND d.rn = pack.rn + 1
    ),
    man AS MATERIALIZED (
        SELECT doc_id, lang,
               CAST(length(rtext) AS BIGINT) AS n_bytes,
               SUM(CAST(length(rtext) AS BIGINT))
                   OVER (PARTITION BY lang ORDER BY doc_id
                         ROWS UNBOUNDED PRECEDING) AS cum_bytes
        FROM final
    )
    SELECT m.doc_id, m.lang, p.n_tokens, m.n_bytes,
           CAST(p.shard AS BIGINT) AS pack_shard,
           p.bin_idx,
           CAST((m.cum_bytes - m.n_bytes) // {_E2E_SHARD_BYTES} AS BIGINT)
             AS shard_idx
    FROM man m JOIN pack p ON p.doc_id = m.doc_id
"""


@register(
    "pipeline_e2e_curation",
    oracle=_E2E_SQL,
    tags=("pipeline", "e2e"),
    # The registered key IS the production shape (no grading harness in
    # the lineage); time_build because its eager checkpoint_df fork
    # cuts do ~95% of the work at fn-call time (bench _TIME_BUILD note).
    production=Production("prod_e2e_curation", None, time_build=True),
)
def pipeline_e2e_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE full curation composition, raw crawl -> training manifest, as
    ONE lineage (VERDICT r5 #5 / r6 next #4): code router -> PII
    redaction -> Gopher quality gate -> exact dedup -> near dedup
    -> eval-set decontamination -> domain
    mixture -> packed sequences + shard manifest. Every stage reuses
    the per-stage operator's exact semantics (same constants, same
    integer/ppm arithmetic), and the DuckDB twin composes the same
    per-stage oracles as CTEs — so the END-TO-END result is value-
    hashed, which is what catches cross-stage plan explosions and
    schema drift no per-key gate sees.

    Stage order is the 100 TB cost order: the two cheapest narrow
    projections (code router ~2 regex lengths/row, PII redaction)
    prune/normalize BEFORE anything tokenizes; the Gopher gate drops
    ~60% of rows before the first shuffle; exact dedup is one
    (hash, id) groupBy; near dedup runs on exact-dedup SURVIVORS only,
    through ngram_jaccard_pairs — exact at every block size, so the
    manifest is the same under any conf — then min-label
    connected components; decontamination broadcasts the (small) eval
    trigram set; the mixture rate table is a per-lang count broadcast
    back; packing is the Arrow grouped-map kernel per hash shard;
    the manifest is one running-sum window per lang.

    LINEAGE FORK POINTS (localCheckpoint by default, reliable under
    the checkpointDir conf): (1) after exact dedup — the survivor set
    feeds the pair self-join (both sides), the CC node set, AND the
    post-CC rejoin; (2) after decontamination — consumed by the
    mixture rate aggregate and the fact-side join; (3) the final kept
    set — forked into the packer and the manifest window, then
    re-joined. Without these cuts the final plan re-derives the whole
    upstream pipeline once per consumer (measured 3.4x the runtime at
    sf0.01) and the pair join's analysis cost compounds per round.

    Graded-SF honesty notes: the exact-dedup stage finds no duplicate
    sha256 among Gopher survivors at sf0.01 (it drops rows at other
    SFs and in production; the stage is still in-plan and oracled);
    the synthetic corpus is PII-free so redaction is a value no-op
    here (the regexes still execute — text_pii_redact value-exercises
    them on injected PII). Near-dup families, contamination hits, and
    mixture downsampling ARE all value-live at sf0.01 (194 gate
    survivors -> 192 after near-dedup -> 184 after decontamination ->
    ~124 after mixture).
    """
    import pandas as pd

    from mediaplaycounts_spark.session import checkpoint_df

    docs = load_table(spark, sf_dir, "documents")

    # stages 1+2: code router on raw text, then PII redaction — one
    # narrow codegen'd projection, no shuffle (same ppm arithmetic as
    # text_code_detection; same regexes as text_pii_redact).
    # r11 optimization round (guide §1.2 per-task work): the whole
    # router+redact+gate block is one narrow projection over the full
    # corpus — the single most CPU-expensive stage of the pipeline
    # after the join-side reuse landed — so its scalar expressions
    # matter. Three value-identical rewrites: (1) the code-glyph count
    # uses translate() char-set deletion instead of a regex-engine
    # character-class scan (the class has no ranges, so the sets are
    # identical); (2) each redaction regex runs only on rows containing
    # its literal anchor ('@' is required by _EMAIL_RE, '+1-555-' by
    # _PHONE_RE, and '<EMAIL>' substitution can neither create nor
    # destroy a '+1-555-' occurrence since no email match contains '+'
    # or '-') — a contains() scan is ~10x cheaper than the regex scan
    # it gates and most real (and all graded) rows carry no PII;
    # (3) the Gopher token-length sum is computed arithmetically,
    # Σ len(tok) = len(rtext) − (n_tokens − 1).
    routed = docs.selectExpr(
        "doc_id",
        "lang",
        "text",
        "length(text) AS n_chars",
        "length(text) - length(translate(text,"
        " '{}()[];=<>|&', '')) AS n_code_chars",
        "length(text) - length(replace(text, '_', '')) AS n_underscore",
    ).filter(
        "n_chars > 0 AND NOT ("
        "n_code_chars * 1000000 div n_chars >= 20000"
        " OR n_underscore * 1000000 div n_chars >= 10000)"
    )
    base = routed.select(
        "doc_id", "lang", guarded_redact(F.col("text")).alias("rtext")
    )

    # stage 3: Gopher gate (same constants as text_gopher_quality)
    stoplist = F.array(*[F.lit(w) for w in _STOPWORDS])
    toks = F.split("rtext", " ")
    n_words = F.size(toks).cast("long")
    mwl = (F.length("rtext") - F.size(toks) + F.lit(1)).cast(
        "double"
    ) / F.size(toks)
    sc = F.size(F.filter(toks, lambda w: F.array_contains(stoplist, w)))
    kept = base.filter(
        n_words.between(_MIN_WORDS, _MAX_WORDS)
        & (mwl >= _MIN_MWL)
        & (mwl <= _MAX_MWL)
        & (sc >= _STOP_FLOOR)
    ).select("doc_id", "lang", "rtext", n_words.alias("n_tokens"))

    # stage 4: exact dedup — keeper = min doc_id per content hash,
    # expressed as ONE window pass instead of the old groupBy +
    # join-back (r11 optimization round; guide §2.4): the join form
    # derived `kept` twice in the checkpoint job — the two regex
    # redactions and the Gopher token statistics are the most
    # expensive scalar work in the pipeline and both ran once per
    # join side — and paid two exchanges (hash agg + join). The
    # row_number form partitions by sha2 once, keeps rn=1 (the same
    # minimum-doc_id keeper), and derives `kept` exactly once.
    # Value-identical to the oracle's exk/exd CTE pair.
    exd = checkpoint_df(  # fork 1
        kept.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(F.sha2("rtext", 256)).orderBy("doc_id")
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # stage 5: near dedup on survivors — exact 2-gram Jaccard pairs
    # (inverted shingle index) + connected components;
    # survivor = component representative (min id; singletons survive)
    pairs = D.ngram_jaccard_pairs(
        exd, "doc_id", "rtext", "lang", n=2, threshold=_E2E_NEAR_THRESHOLD
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    nodes = exd.select(F.col("doc_id").alias("node"))
    cc = D.connected_components(nodes, edges)
    reps = cc.filter(F.col("node") == F.col("label")).select(
        F.col("node").alias("doc_id")
    )
    near = exd.join(reps, "doc_id")

    # stage 6: decontamination — benchmark trigram set (raw eval text,
    # FULL corpus membership doc_id % MOD) broadcast against survivor
    # trigrams; benchmark docs themselves leave the training set
    bench = (
        _distinct_trigrams(
            docs.filter((F.col("doc_id") % _BENCH_MOD) == 0).select(
                "doc_id", "text"
            )
        )
        .select("trigram")
        .distinct()
    )
    tg = _distinct_trigrams(near.select("doc_id", F.col("rtext").alias("text")))
    hits = (
        tg.join(F.broadcast(bench), "trigram")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    clean = checkpoint_df(  # fork 2
        near.filter((F.col("doc_id") % _BENCH_MOD) != 0)
        .join(hits, "doc_id", "left")
        .filter(F.coalesce("n_shared", F.lit(0)) < _CONTAM_FLOOR)
        .select("doc_id", "lang", "rtext", "n_tokens")
    )

    # stage 7: domain mixture — per-lang counts -> exact ppm rates ->
    # deterministic md5-prefix keep (same formula as
    # pipeline_domain_mixture); rate table broadcasts back
    lc = clean.groupBy("lang").agg(F.count("*").alias("n"))
    lk = lc.agg(F.min("n").alias("n_min"))
    lr = lc.crossJoin(F.broadcast(lk)).select(
        "lang",
        F.expr("cast(n_min * 1000000 div n as bigint)").alias("rate_ppm"),
    )
    thr = F.lower(
        F.lpad(
            F.hex(F.expr("cast(rate_ppm * 4294967296 div 1000000 as bigint)")),
            8,
            "0",
        )
    )
    final = checkpoint_df(  # fork 3
        clean.join(F.broadcast(lr), "lang")
        .filter(
            (F.col("rate_ppm") >= 1_000_000)
            | (F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8) < thr)
        )
        .select("doc_id", "lang", "rtext", "n_tokens")
    )

    # stage 8: greedy 128-token packing per hash shard (Arrow
    # grouped-map; same kernel contract as pipeline_pack_sequences)
    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        window, bin_idx, fill = 128, 0, 0
        bins = []
        for i, n in enumerate(pdf["n_tokens"]):
            if i > 0 and fill + n > window:
                bin_idx, fill = bin_idx + 1, n
            else:
                fill += n
            bins.append(bin_idx)
        return pdf.assign(bin_idx=pd.Series(bins, dtype="int64"))

    packed = (
        final.select(
            "doc_id", (F.col("doc_id") % 8).alias("pack_shard"), "n_tokens"
        )
        .groupBy("pack_shard")
        .applyInPandas(
            pack, "doc_id long, pack_shard long, n_tokens long, bin_idx long"
        )
    )

    # stage 9: shard manifest — start-offset assignment to fixed-size
    # output shards (one running-sum window per lang)
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    man = (
        final.select("doc_id", "lang", F.length("rtext").cast("long").alias("n_bytes"))
        .withColumn("cum_bytes", F.sum("n_bytes").over(w))
        .select(
            "doc_id",
            "lang",
            "n_bytes",
            F.expr(
                f"cast((cum_bytes - n_bytes) div {_E2E_SHARD_BYTES} as bigint)"
            ).alias("shard_idx"),
        )
    )
    return man.join(packed, "doc_id").select(
        "doc_id", "lang", "n_tokens", "n_bytes", "pack_shard", "bin_idx", "shard_idx"
    )
