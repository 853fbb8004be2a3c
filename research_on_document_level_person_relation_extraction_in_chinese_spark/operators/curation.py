"""Corpus-curation operators: CCNet bucketing, decontamination, PII redaction.

Three curation steps every large-scale training-data pipeline runs between
the crawl and the model, each expressed JVM-side (built-in
``pyspark.sql.functions`` only — no Python in the hot path) with an exact
DuckDB oracle in ``__spark_entry__.py``:

- :func:`ccnet_buckets` — the head/middle/tail per-language quality
  bucketing of CCNet (Wenzek et al. 2020).  The reference corpus is
  literally the CCNet *head* bucket of a Common Crawl sample
  (``文件/...20240123.pptx`` slide 11: test corpus = 26,293 zh docs from
  the head bucket; BASELINE.md "CCNet sample buckets"), so this operator
  reproduces the selection step that produced the reference's own input.
- :func:`decontaminate` — benchmark n-gram overlap detection (the
  GPT-3/PaLM-style 13-gram eval-set decontamination): flag training docs
  sharing word n-grams with a (small) held-out evaluation corpus.
- :func:`pii_redact` — C4/RefinedWeb-style PII scrubbing: count + redact
  email / phone / IP literals with JVM ``regexp_replace``/``regexp_count``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: bucket names for the canonical 3-way CCNet split, best-first.
CCNET_BUCKETS = ("head", "middle", "tail")

#: default PII patterns, applied in order (name, regex, replacement).
#: Regexes avoid lookarounds/backrefs so Java (Spark) and RE2 (DuckDB)
#: agree byte-for-byte.
PII_PATTERNS = (
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", "[0-9]{2}-[0-9]{4}-[0-9]{4}", "<PHONE>"),
    ("ip", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
)


def ccnet_buckets(
    df: DataFrame,
    score_col: str = "q_score",
    lang_col: str = "lang",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    thresholds: dict[str, list[float]] | None = None,
) -> DataFrame:
    """Per-language quality bucketing (CCNet head/middle/tail).

    CCNet splits each language into equal-mass perplexity terciles and
    downstream consumers keep the *head* (the reference did exactly this —
    BASELINE.md "CCNet sample buckets").  Higher ``score_col`` = better
    (the inverse of perplexity), so bucket 1 = head holds the HIGHEST
    scores.

    Two modes:

    - ``thresholds=None`` (exact): ``ntile(n_buckets)`` over
      ``(lang, score DESC, id)``.  Deterministic and oracle-matched, but a
      per-language global sort — fine for computing thresholds on a
      SAMPLE, wrong as the 100-TB map step.
    - ``thresholds={lang: [cut1 > cut2 > ...]}`` (scale path): CCNet's
      actual deployment shape — thresholds are computed ONCE from a small
      sample (e.g. the exact mode over 1% of the corpus), then the full
      corpus is bucketed with a map-only comparison chain: no shuffle, no
      sort, runs at scan speed.  A doc lands in bucket
      ``1 + #{cuts > score}`` (ties at a cut go to the better bucket).
      Unknown languages fall in the worst bucket.

    Returns ``df`` plus ``bucket_idx`` (1-based) and ``bucket`` (named for
    ``n_buckets==3``, else ``b<k>``)."""
    if thresholds is None:
        w = Window.partitionBy(lang_col).orderBy(
            F.col(score_col).desc(), F.col(id_col)
        )
        idx = F.ntile(n_buckets).over(w)
    else:
        expr = F.lit(n_buckets)  # unknown language → worst bucket
        for lang, cuts in thresholds.items():
            if len(cuts) != n_buckets - 1 or sorted(cuts, reverse=True) != list(cuts):
                raise ValueError(f"thresholds[{lang!r}] must be {n_buckets - 1} descending cuts")
            b = F.lit(1)
            for cut in cuts:
                b = b + (F.col(score_col) < F.lit(cut)).cast("int")
            expr = F.when(F.col(lang_col) == lang, b).otherwise(expr)
        idx = expr
    if n_buckets == 3:
        name = F.element_at(F.array(*[F.lit(b) for b in CCNET_BUCKETS]), idx)
    else:
        name = F.concat(F.lit("b"), idx.cast("string"))
    return df.withColumn("bucket_idx", idx).withColumn("bucket", name)


def ccnet_thresholds(
    bucketed: DataFrame,
    score_col: str = "q_score",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> dict[str, list[float]]:
    """Derive the map-mode cut points from an exact-mode sample run: the
    minimum score inside each of the first ``n_buckets - 1`` buckets.  The
    result is tiny (languages × buckets) — the one legitimate driver-side
    collect, shipped back as literals exactly like the taxonomy map
    (SURVEY §7.3)."""
    rows = (
        bucketed.where(F.col("bucket_idx") < n_buckets)
        .groupBy(lang_col, "bucket_idx")
        .agg(F.min(score_col).alias("cut"))
        .collect()
    )
    out: dict[str, list[float]] = {}
    for r in sorted(rows, key=lambda r: (r[lang_col], r["bucket_idx"])):
        out.setdefault(r[lang_col], []).append(r["cut"])
    return out


def split_words(text: Column) -> Column:
    """The word array ``word_ngrams`` is defined over — hoist THIS to its
    own projected column and call :func:`word_ngrams_from_words` on hot
    paths (see there for why)."""
    return F.split(F.trim(text), "\\s+")


def word_ngrams_from_words(words: Column, n: int = 3) -> Column:
    """Distinct space-joined word ``n``-grams over a PRE-HOISTED word array
    (``split_words``).  Docs shorter than ``n`` words yield an empty array
    (the ``sequence`` guard matters: Spark's ``sequence(0, -1)`` would
    COUNT DOWN, not return empty).

    Hoisting matters because ``words`` is referenced INSIDE the per-element
    slice lambda: HOF lambda bodies get no loop-invariant hoisting, so an
    embedded split expression would re-split the text once per n-gram
    position (measured: the sf0.1 gram scan 0.42 s embedded vs 0.27 s
    hoisted, identical output; the gap grows with document length)."""
    grams = F.transform(
        F.sequence(F.lit(0), F.size(words) - n),
        lambda i: F.array_join(F.slice(words, i + 1, n), " "),
    )
    return F.array_distinct(
        F.when(F.size(words) >= n, grams).otherwise(F.array().cast("array<string>"))
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """Embedded-form word n-grams (split inlined — re-evaluated per gram
    position; see ``word_ngrams_from_words``).  Kept as the simple Column
    API; hot paths hoist ``split_words`` first."""
    return word_ngrams_from_words(split_words(text), n)


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_hits: int = 1,
) -> DataFrame:
    """Eval-set decontamination: for every training doc, count the distinct
    word ``n``-grams it shares with ANY document of ``eval_df`` and flag it
    ``contaminated`` when the count reaches ``min_hits`` (GPT-3 appendix C /
    PaLM-style 13-gram overlap; ``n`` is a parameter because the synthetic
    corpus is short-vocab).

    Scale shape: the eval n-gram vocabulary is bounded by the BENCHMARK
    size (thousands of docs → ~10^6–10^7 grams), not the corpus, so it is
    the one genuinely-broadcastable side: an explicit ``F.broadcast`` semi
    join means the 100-TB training side is scanned once, map-side, with no
    shuffle of train data at all.  The only shuffled rows are the matches
    (eval-bounded), aggregated per doc and joined back — also AQE-broadcast
    at runtime.  Output: every train row plus ``n_overlap`` (0 for clean)
    and ``contaminated`` (0/1)."""
    # words hoisted to their own projection (split once per doc, not once
    # per gram position — see word_ngrams_from_words)
    eval_grams = (
        eval_df.select(split_words(F.col(text_col)).alias("_w"))
        .select(F.explode(word_ngrams_from_words(F.col("_w"), n)).alias("gram"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col), split_words(F.col(text_col)).alias("_w")
    ).select(
        F.col(id_col), F.explode(word_ngrams_from_words(F.col("_w"), n)).alias("gram")
    )
    hits = (
        train_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        train.join(hits, id_col, "left")
        .withColumn("n_overlap", F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")))
        .withColumn("contaminated", (F.col("n_overlap") >= min_hits).cast("int"))
    )


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    patterns=PII_PATTERNS,
) -> DataFrame:
    """Count and redact PII literals (C4 §2.2 removes pages on bad-word
    lists; RefinedWeb/FineWeb instead REDACT email/IP/phone in place —
    this is the redaction variant, the one that preserves corpus mass).

    One map-only projection: per pattern a ``regexp_count`` on the
    ORIGINAL text (counts are independent of redaction order) and a
    chained ``regexp_replace`` for the rewritten text.  Everything stays
    inside whole-stage codegen; at 100 TB this is a scan-speed pass.
    Patterns avoid lookarounds so the DuckDB oracle (RE2) matches Java's
    engine exactly."""
    text = F.col(text_col)
    counts = [
        F.regexp_count(text, F.lit(rx)).cast("long").alias(f"n_{name}")
        for name, rx, _ in patterns
    ]
    red = text
    for _, rx, repl in patterns:
        red = F.regexp_replace(red, rx, repl)
    others = [c for c in df.columns if c != text_col]
    return df.select(*others, red.alias(text_col), *counts)


def language_mix_sample(
    df: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    target_total: int = 100_000,
    alpha: float = 0.5,
    seed: str = "mix",
) -> DataFrame:
    """Temperature-based language rebalancing (the XLM-R / mBERT data-mix
    rule): sample language ``l`` with probability proportional to
    ``n_l ** alpha`` — ``alpha < 1`` upsamples the share of low-resource
    languages relative to the raw crawl distribution.  Quota per language:
    ``min(n_l, ceil(target_total * n_l^a / Σ n^a))``; within a language the
    kept docs are the first ``quota_l`` in seeded md5-hash order (a
    reproducible uniform shuffle, the same rank :func:`per_key_cap` uses).

    Scale shape: the quota computation touches only the per-language count
    table (keyspace-bounded, ~10^2 rows) — one partial-aggregated pass plus
    a scalar cross join; the selection then rides ``per_key_cap``'s
    bucketed-window rank, so a dominant language (English at ~half the
    crawl) never serializes into one sort and its past-quota hash buckets
    are pruned before any data-side window.  Everything stays in-plan — no
    driver collect."""
    counts = df.groupBy(lang_col).agg(F.count("*").alias("_n"))
    total_w = counts.agg(F.sum(F.pow(F.col("_n"), F.lit(alpha))).alias("_sw"))
    quotas = counts.crossJoin(F.broadcast(total_w)).select(
        lang_col,
        F.least(
            F.col("_n"),
            F.ceil(F.lit(target_total) * F.pow(F.col("_n"), F.lit(alpha)) / F.col("_sw")),
        ).alias("cap"),
    )
    from .training import per_key_cap

    return per_key_cap(
        df, key=lang_col, id_col=id_col, cap=quotas, seed=seed
    ).withColumnRenamed("cap_rank", "mix_rank")


def bloom_positions(gram: Column, j: int, m_bits: int) -> Column:
    """Bloom hash ``j`` of a gram → bit position in ``[0, m_bits)`` — the
    md5 scheme of ``dedup.shingle_hash`` over ``"<j>:<gram>"``, so the
    DuckDB oracle rebuilds the identical filter."""
    from .dedup import shingle_hash

    return shingle_hash(F.concat(F.lit(f"{j}:"), gram)) % m_bits


def bloom_bits(keys: DataFrame, key_col: str, m_bits: int, h: int) -> list[int]:
    """The filter's occupied-position indicator (0/1 per bit), built
    in-engine: one distinct over ≤ ``m_bits`` positions, collected like the
    taxonomy map — bounded by the FILTER SIZE, never the key count."""
    pos = (
        keys.select(
            F.explode(
                F.array(*[bloom_positions(F.col(key_col), j, m_bits) for j in range(h)])
            ).alias("p")
        )
        .distinct()
        .collect()
    )
    bits = [0] * m_bits
    for r in pos:
        bits[int(r["p"])] = 1
    return bits


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 8192,
    h: int = 3,
    min_hits: int = 2,
) -> DataFrame:
    """Bloom-gated decontamination — the 100-TB shape of :func:`decontaminate`.

    The eval n-gram set is folded into an ``m_bits``-bit Bloom filter
    (``h`` md5 hashes) shipped as ONE array literal, so the corpus pass is a
    pure map: each doc counts its grams that pass the filter
    (``size(filter(grams, …))`` — no explode, no join, no shuffle of train
    data at all).  Only docs with ``n_maybe ≥ min_hits`` — a benchmark-
    bounded candidate set, since the filter never misses a true member —
    flow into the exact overlap join; everything else is proven clean by
    the map pass alone.  Compare :func:`decontaminate`, which explodes and
    semi-joins EVERY train gram: at 10^12 docs that is the difference
    between a scan and a corpus-sized shuffle feeding a broadcast probe.

    Output per train doc: ``n_maybe`` (Bloom-passing gram count — an upper
    bound on the true overlap), ``bloom_flagged``, ``n_overlap`` (exact,
    computed ONLY for flagged docs — 0 otherwise by contract), and
    ``contaminated`` (exact ≥ ``min_hits``).  No false negatives by
    construction: ``n_maybe ≥`` true overlap per doc, so every contaminated
    doc is flagged; flagged-but-clean rows expose the measured
    false-positive cost."""
    eval_grams = (
        eval_df.select(split_words(F.col(text_col)).alias("_w"))
        .select(F.explode(word_ngrams_from_words(F.col("_w"), n)).alias("gram"))
        .distinct()
    )
    bits = bloom_bits(eval_grams, "gram", m_bits, h)
    # one SQL-text literal (single py4j call, ConstantFolding collapses it)
    blit = F.expr("array(" + ",".join(str(b) for b in bits) + ")")

    def _passes(g: Column) -> Column:
        test = None
        for j in range(h):
            p = bloom_positions(g, j, m_bits)
            t = F.element_at(blit, (p + 1).cast("int")) == 1
            test = t if test is None else test & t
        return test

    from .persistpool import persist_scan

    grams = word_ngrams_from_words(F.col("_w"), n)
    # the Bloom map pass (n-gram build + h md5 probes per gram) is the
    # expensive part and the plan consumes ``base`` twice — as the left side
    # of the final join AND (filtered) to feed the exact overlap join.
    # Spark reuses exchanges, not scans, so without a persist the whole
    # md5-heavy pass runs twice (guide §5; r6: 5.4 s → ~3 s measured).
    # Each consumer hoists the word array to its own projection (split once
    # per doc, not once per gram position — see word_ngrams_from_words);
    # the PERSISTED schema stays (id, text, n_maybe) — caching the word
    # array would pay nested-array decode per consumer (measured slower than
    # recomputing for cached array columns) for a flagged-set recompute that
    # is benchmark-bounded anyway.
    base = persist_scan(
        train.select(
            F.col(id_col), F.col(text_col), split_words(F.col(text_col)).alias("_w")
        ).select(
            F.col(id_col),
            F.col(text_col),
            F.size(F.filter(grams, _passes)).cast("long").alias("n_maybe"),
        )
    )
    flagged_grams = (
        base.where(F.col("n_maybe") >= min_hits)
        .select(F.col(id_col), split_words(F.col(text_col)).alias("_w"))
        .select(F.col(id_col), F.explode(grams).alias("gram"))
    )
    exact = (
        flagged_grams.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").cast("long").alias("n_overlap"))
    )
    return (
        base.join(exact, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_maybe"),
            (F.col("n_maybe") >= min_hits).cast("int").alias("bloom_flagged"),
            F.coalesce(F.col("n_overlap"), F.lit(0).cast("long")).alias("n_overlap"),
            (F.coalesce(F.col("n_overlap"), F.lit(0)) >= min_hits)
            .cast("int")
            .alias("contaminated"),
        )
    )
