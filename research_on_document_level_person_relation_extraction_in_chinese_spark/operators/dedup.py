"""Deduplication operators for training-data pipelines (driver mandate):
exact (hash groupBy), MinHash+LSH, SimHash, n-gram Jaccard.

Design constraints honored throughout:
- **JVM-only hot path.** Shingling, hashing, signatures, banding are all
  built-in higher-order functions (``transform``/``aggregate``/``sequence``)
  — no Python UDFs, so dedup scans stay inside whole-stage codegen.
- **Oracle-exact arithmetic.** Shingle hash = first 15 hex chars of md5 →
  int64 → mod P; both Spark (``conv``) and DuckDB (``'0x…'::BIGINT``)
  produce identical values, so every operator has an exact SQL oracle.
- **Scale shape.** LSH banding turns the quadratic all-pairs problem into
  per-bucket joins: candidate generation is one groupBy on (band, signature)
  whose fan-out is bounded by bucket size; the exact-Jaccard verify runs only
  on candidates. At 100 TB the band groupBy is the only big shuffle and its
  key space is uniform (hash values), so no skew.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HASH_MOD = 1_000_000_007

#: bounded managed-persist pool for dedup scan tables (now shared repo-wide
#: via operators/persistpool.py, same one-slot-per-call contract):
#: minhash_lsh_pairs consumes its shingle+signature scan FIVE times (bucket
#: self-join l/r, verify a/b, sizes) and ngram_jaccard_pairs its
#: exploded-shingle scan up to six — Spark only reuses exchanges, not scans,
#: so without a persist the shingle/md5/permutation compute repeats per
#: consumer (measured: 5 back-to-back scan stages dominating the LSH job,
#: 62.7 s → 31.4 s once cached). At most one call's blocks stay cached; the
#: next call evicts them.
from .persistpool import persist_scan as _persist_scan  # noqa: E402


#: (a, b) parameters of the k minhash permutations h_i(x) = (a*x + b) mod P.
#: a < 2^31 keeps a*x below int64 overflow after x is reduced mod P.
MINHASH_SALTS = [
    (1_000_003, 12345),
    (999_983, 54321),
    (1_000_033, 7),
    (999_979, 999_331),
    (1_000_037, 271_828),
    (999_961, 314_159),
    (1_000_039, 161_803),
    (999_959, 423_606),
]


def char_shingles(text: Column, n: int = 3) -> Column:
    """Distinct character n-grams (array<string>); empty for short texts."""
    length = F.length(text)
    return F.when(
        length >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), length - (n - 1)), lambda i: text.substr(i, F.lit(n))
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_hash(shingle: Column) -> Column:
    """md5-derived 60-bit int reduced mod P — identical in the DuckDB oracle:
    ``CAST('0x' || substr(md5(s),1,15) AS BIGINT) % 1000000007``."""
    return F.conv(F.substring(F.md5(shingle), 1, 15), 16, 10).cast("long") % HASH_MOD


def _permute(a: int, b: int):
    """h → (a*h + b) mod P as a 1-arg HOF lambda (Spark's higher-order
    functions require the exact lambda arity — no default-arg captures)."""
    return lambda h: (F.lit(a) * h + F.lit(b)) % HASH_MOD


def minhash_signature_from_hashes(hashes: Column, k: int = 8) -> Column:
    """array of k minhash values over a PRE-HOISTED shingle-hash array
    (NULL-free; empty shingle set → P as the 'infinite' sentinel so
    signatures stay comparable).

    Callers building a DataFrame column should materialize
    ``transform(sh, shingle_hash)`` as its OWN projected column and pass it
    here: Catalyst does not common-subexpression-eliminate a HOF transform
    repeated across the k permutation transforms, so the embedded form
    re-runs the md5 pass once PER PERMUTATION (measured on the sf0.1
    signature scan: k=8 embedded 0.92 s vs k=1 0.37 s vs hoisted k=8
    0.50 s; signatures bit-identical)."""
    mins = [
        F.coalesce(F.array_min(F.transform(hashes, _permute(a, b))), F.lit(HASH_MOD))
        for a, b in MINHASH_SALTS[:k]
    ]
    return F.array(*mins)


def minhash_signature(shingles: Column, k: int = 8) -> Column:
    """Embedded-form signature (hash transform inlined k times) — kept as
    the simple Column API for tests/small inputs; hot paths hoist the hash
    array first (see ``minhash_signature_from_hashes``)."""
    return minhash_signature_from_hashes(F.transform(shingles, shingle_hash), k)


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup via content-hash groupBy → duplicate groups."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy("text_md5")
        .agg(
            F.count("*").alias("n_docs"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_docs") > 1)
    )


def lsh_params(threshold: float, k: int) -> tuple[int, int]:
    """(bands, rows) for a target Jaccard threshold: the banded-LSH collision
    S-curve has its steepest point near t ≈ (1/b)^(1/r); pick the divisor
    b of k whose t is closest to ``threshold`` (standard MMDS ch.3 rule) —
    no hand-tuning per dataset."""
    best = None
    for b in range(1, k + 1):
        if k % b:
            continue
        r = k // b
        t = (1.0 / b) ** (1.0 / r)
        score = abs(t - threshold)
        if best is None or score < best[0]:
            best = (score, b, r)
    return best[1], best[2]


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    k: int = 8,
    bands: int | None = None,
    threshold: float = 0.6,
    verify: str = "auto",
    dense_vocab_limit: int = 4096,
    cache_signatures: bool = True,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash-LSH + exact-Jaccard verify.

    shingle → k minhashes → ``bands`` bands of k/bands rows → bucket-join on
    (band, band signature) → candidate pairs → exact n-gram Jaccard filter.
    Returns (a_id, b_id, jaccard) with a_id < b_id, rounded to 4 decimals.
    ``bands=None`` derives (bands, rows) from ``threshold`` via the LSH
    S-curve rule (``lsh_params``) instead of per-dataset hand-tuning.
    ``verify``: 'dense' (popcount over bit masks, small vocab only),
    'inverted' (inverted-index count join — the open-vocab scale path;
    pass this explicitly at 100 TB to skip the vocab probe), or 'auto'
    (one bounded distinct-collect decides).
    ``cache_signatures`` persists the shingle+signature table, which the plan
    consumes five times (managed: each call evicts the previous call's
    blocks; at 100 TB you would checkpoint it as a stage table instead —
    sources/catalog.py — and pass False here).
    """
    if bands is None:
        bands, _ = lsh_params(threshold, k)
    rows_per_band = k // bands
    # NOTE: callers own input fan-out (the entry fixtures pre-repartition
    # their single-row-group scans); an unconditional spread_scan here was
    # measured a no-op + planning overhead for every bench caller.
    # the shingle-hash array is hoisted to its own projection so the md5
    # pass runs ONCE, not once per permutation (CollapseProject keeps the
    # split because _hv is consumed k times and is not cheap; see
    # minhash_signature_from_hashes)
    base = (
        docs.select(
            F.col(id_col).alias("id"), char_shingles(F.col(text_col), n).alias("sh")
        )
        .withColumn("_hv", F.transform(F.col("sh"), shingle_hash))
        .withColumn("sig", minhash_signature_from_hashes(F.col("_hv"), k))
        .drop("_hv")
    )
    if cache_signatures:
        base = _persist_scan(base)

    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.slice("sig", b * rows_per_band + 1, rows_per_band).alias("bsig"),
        )
        for b in range(bands)
    ]
    buckets = base.select("id", F.explode(F.array(*band_cols)).alias("bk")).select(
        "id", F.col("bk.band").alias("band"), F.col("bk.bsig").alias("bsig")
    )
    left = buckets.alias("l")
    right = buckets.alias("r")
    cand = (
        left.join(right, on=["band", "bsig"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("a_id"), F.col("r.id").alias("b_id"))
        .distinct()
    )
    # exact-Jaccard verify, adaptive like ngram_jaccard_pairs:
    sh_flat = base.select(F.col("id"), F.explode("sh").alias("s"))
    vocab: list[str] = []
    if verify == "auto":
        vocab = [
            r["s"]
            for r in sh_flat.select("s").distinct().limit(dense_vocab_limit + 1).collect()
        ]
        # empty vocab (no doc long enough to shingle) → no candidates can
        # share anything; the inverted path returns empty without a crash
        verify = "dense" if 0 < len(vocab) <= dense_vocab_limit else "inverted"
    if verify == "dense":
        if not vocab:
            vocab = [
                r["s"]
                for r in sh_flat.select("s").distinct().limit(dense_vocab_limit + 1).collect()
            ]
        if not (0 < len(vocab) <= dense_vocab_limit):
            raise ValueError(f"dense verify needs 0 < vocab ≤ {dense_vocab_limit}")
        # dense popcount verify — candidates join the mask table twice
        # (masks scale with DOC count, so no broadcast hint: AQE broadcasts
        # when small, shuffles when not); |A∩B| is AND+popcount per
        # candidate (the inverted-index verify would push |cand|×|shingles|
        # rows through a join; measured 130M rows / 24 s → 935k rows on the
        # sf0.1 fixture)
        masks, n_words = _dense_masks(
            sh_flat.select("id", F.col("s").alias("sh")), vocab, []
        )
        joined = (
            cand.join(masks.alias("a"), cand.a_id == F.col("a.id"))
            .join(masks.alias("b"), cand.b_id == F.col("b.id"))
            .select(
                "a_id",
                "b_id",
                _popcount_common(n_words).alias("n_common"),
                F.col("a.n_sh").alias("a_sz"),
                F.col("b.n_sh").alias("b_sz"),
            )
        )
        return _jaccard_select(joined, threshold)
    if verify != "inverted":
        raise ValueError(f"unknown verify {verify!r}")
    # open-vocabulary verify via the inverted index: candidate pairs joined
    # to the exploded shingle table twice and counted — no shingle ARRAYS
    # ever shuffle to the pair side
    a_sh = sh_flat.select(F.col("id").alias("a_id"), F.col("s"))
    b_sh = sh_flat.select(F.col("id").alias("b_id"), F.col("s"))
    n_common = (
        cand.join(a_sh, "a_id")
        .join(b_sh, ["b_id", "s"])
        .groupBy("a_id", "b_id")
        .agg(F.count("*").alias("n_common"))
    )
    sizes = base.select("id", F.size("sh").alias("n_sh"))
    return _jaccard_from_counts(n_common, sizes, threshold)


def _jaccard_select(joined: DataFrame, threshold: float) -> DataFrame:
    """(a_id, b_id, n_common, a_sz, b_sz) → thresholded (a_id, b_id, jaccard)
    — the ONE place the rounding/threshold contract of the SQL oracles lives."""
    union = F.col("a_sz") + F.col("b_sz") - F.col("n_common")
    return (
        joined.withColumn("jaccard", F.round(F.col("n_common").cast("double") / union, 4))
        .where(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "jaccard")
    )


def _jaccard_from_counts(inter: DataFrame, sizes: DataFrame, threshold: float) -> DataFrame:
    """(a_id, b_id, n_common) + per-doc set sizes → thresholded Jaccard.
    No broadcast hint on sizes — it scales with DOC count (AQE broadcasts
    when genuinely small)."""
    joined = (
        inter.join(sizes.withColumnRenamed("id", "a_id").withColumnRenamed("n_sh", "a_sz"), "a_id")
        .join(sizes.withColumnRenamed("id", "b_id").withColumnRenamed("n_sh", "b_sz"), "b_id")
    )
    return _jaccard_select(joined, threshold)


def _inverted_index_counts(sh: DataFrame) -> DataFrame:
    """Exact intersection counts via the plain (unfiltered) inverted-index
    self-join — the baseline/testing path; no shingle arrays ever shuffle."""
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, on=["blk", "sh"])
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count("*").alias("n_common"))
    )


def _prefix_filtered_counts(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact counts via the PPJoin-style prefix filter — the open-vocabulary
    scale path. → (a_id, b_id, n_common, a_sz, b_sz).

    Candidate generation: shingles are globally ordered by (document
    frequency, shingle) and each doc joins only on its ⌊(1−θ)·|A|⌋+1 rarest
    shingles — LOSSLESS for Jaccard ≥ θ (any qualifying pair shares ≥
    θ·max(|A|,|B|) shingles, so the globally-smallest common shingle lands in
    both prefixes), and hot shingles (the quadratic fan-out risk) rank last
    so they drop out of every prefix.

    Verify: candidates join the per-doc shingle ARRAY table (one row per
    doc, PPJoin's canonical verify shape) and |A∩B| is a per-row JVM
    ``array_intersect`` — round-4 profile on the sf0.1 open-vocab fixture:
    8.2 s → 2.4 s vs re-joining the exploded index, because the verify
    shuffle moves |cand| array rows instead of |cand|×|doc| exploded rows;
    the per-doc rank window itself measured 1.8 s (NOT the bottleneck; a
    collect_list+array_sort aggregate variant was slower at 2.8 s). Row
    width is bounded by two per-doc arrays, never per-corpus state."""
    from pyspark.sql.window import Window

    from .persistpool import persist_extra

    # r6 shape: ONE windowed pass computes both the per-doc rank and the
    # per-doc size (two window functions over the SAME id partitioning — one
    # exchange, no separate sizes groupBy + join), and the windowed frame is
    # managed-persisted so the per-doc set table derives from it WITHOUT a
    # new shuffle (its cached partitioning is already hashpartitioning(id)).
    # r5 paid: sizes groupBy (shuffle) + sizes join + a separate doc_sets
    # groupBy shuffle over the raw shingle table. Values unchanged —
    # count(*) over (id) equals the old sizes count, and only
    # size(array_intersect) of the collected sets is consumed downstream.
    freq = sh.groupBy("sh").agg(F.count("*").alias("df"))
    w_rank = Window.partitionBy("id").orderBy("df", "sh")
    w_size = Window.partitionBy("id")
    ranked = persist_extra(
        sh.join(freq, "sh")
        .select("blk", "id", "sh", "df")
        .withColumn("_rk", F.row_number().over(w_rank))
        .withColumn("n_sh", F.count("*").over(w_size))
    )
    prefix = ranked.where(
        F.col("_rk") <= F.floor((1.0 - threshold) * F.col("n_sh")) + 1
    ).select("blk", "id", "sh", "_rk", "n_sh")
    pa, pb = prefix.alias("a"), prefix.alias("b")
    # PPJoin POSITIONAL filter (lossless): a pair with Jaccard ≥ θ has
    # overlap c ≥ θ/(1+θ)·(|A|+|B|), and every common shingle ranks ≥ the
    # matched one in BOTH docs, so c ≤ 1 + min(|A|−rk_A, |B|−rk_B) at any
    # match row. For the pair's globally-smallest common shingle (which the
    # prefix lemma guarantees is in both prefixes) that upper bound holds
    # with c itself, hence a qualifying pair ALWAYS passes here on that row
    # and survives to the verify; rows pruned are provably below θ. The
    # 1e-6 slack makes float rounding one-sided (can only keep extra junk,
    # never drop a qualifying pair — counts are integers, so the true
    # comparison margin is ≥ 1·(1+θ) ≫ slack + double error). Measured:
    # most deep-prefix junk matches die before the array-payload verify.
    ub = F.lit(1) + F.least(
        F.col("a.n_sh") - F.col("a._rk"), F.col("b.n_sh") - F.col("b._rk")
    )
    cand = (
        pa.join(pb, on=["blk", "sh"])
        .where(F.col("a.id") < F.col("b.id"))
        .where(
            ub.cast("double") * (1.0 + threshold) + 1e-6
            >= threshold * (F.col("a.n_sh") + F.col("b.n_sh"))
        )
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )
    doc_sets = ranked.groupBy("id").agg(
        F.collect_list("sh").alias("shs"), F.count("*").alias("n_sh")
    )
    return (
        cand.join(
            doc_sets.select(
                F.col("id").alias("a_id"),
                F.col("shs").alias("a_shs"),
                F.col("n_sh").alias("a_sz"),
            ),
            "a_id",
        )
        .join(
            doc_sets.select(
                F.col("id").alias("b_id"),
                F.col("shs").alias("b_shs"),
                F.col("n_sh").alias("b_sz"),
            ),
            "b_id",
        )
        # candidates share ≥1 prefix shingle by construction, so n_common ≥ 1
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("a_shs", "b_shs")).cast("long").alias("n_common"),
            "a_sz",
            "b_sz",
        )
    )


_DENSE_BITS_PER_WORD = 62  # stay clear of the long sign bit


def _dense_masks(sh: DataFrame, vocab: list[str], extra_group_cols: list[str]) -> tuple[DataFrame, int]:
    """Per-doc dense bit vectors over a SMALL global shingle vocabulary: the
    driver-collected vocab (taxonomy-style bounded state) becomes a broadcast
    (shingle → bit) table; one hash-aggregate folds each doc's shingles into
    ⌈V/62⌉ long words. Returns (masks df with id/n_sh/m0..mk, n_words)."""
    spark = sh.sparkSession
    bit_rows = [(s, i) for i, s in enumerate(sorted(vocab))]
    n_words = (len(bit_rows) + _DENSE_BITS_PER_WORD - 1) // _DENSE_BITS_PER_WORD
    bits = spark.createDataFrame(bit_rows, "sh string, _bit int")
    shw = sh.join(F.broadcast(bits), "sh").select(
        *extra_group_cols,
        "id",
        F.floor(F.col("_bit") / _DENSE_BITS_PER_WORD).cast("int").alias("_w"),
        # 2^(bit%62) via pow: exact for powers of two up to 2^61
        F.pow(F.lit(2.0), F.col("_bit") % _DENSE_BITS_PER_WORD).cast("long").alias("_b"),
    )
    masks = shw.groupBy(*extra_group_cols, "id").agg(
        F.count("*").alias("n_sh"),
        *[
            F.coalesce(F.sum(F.when(F.col("_w") == k, F.col("_b"))), F.lit(0))
            .cast("long")
            .alias(f"m{k}")
            for k in range(n_words)
        ],
    )
    return masks, n_words


def _popcount_common(n_words: int, a: str = "a", b: str = "b") -> Column:
    common = None
    for k in range(n_words):
        term = F.bit_count(F.col(f"{a}.m{k}").bitwiseAND(F.col(f"{b}.m{k}")))
        common = term if common is None else common + term
    return common.cast("long")


def _dense_jaccard_pairs(sh: DataFrame, vocab: list[str], threshold: float) -> DataFrame:
    """Exact Jaccard via dense bit vectors: block self-join over the mask
    table computes |A∩B| with bitwise-AND + popcount — whole-stage-codegen
    arithmetic end to end, two linear scans + one join shuffle.

    This is the fast path for templated/boilerplate-heavy corpora: a tiny
    vocabulary means near-every pair co-occurs somewhere, so an inverted
    index degenerates to all-pairs anyway (measured 55M pair-rows on the
    sf0.1 fixture vs 622k block pairs here)."""
    masks, n_words = _dense_masks(sh, vocab, ["blk"])
    a, b = masks.alias("a"), masks.alias("b")
    joined = (
        a.join(b, on="blk")
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            _popcount_common(n_words).alias("n_common"),
            F.col("a.n_sh").alias("a_sz"),
            F.col("b.n_sh").alias("b_sz"),
        )
        .where(F.col("n_common") > 0)
    )
    return _jaccard_select(joined, threshold)


def ngram_jaccard_pairs(
    docs: DataFrame,
    block_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    strategy: str = "auto",
    dense_vocab_limit: int = 4096,
    cache_shingles: bool = True,
) -> DataFrame:
    """Blocked n-gram Jaccard set-similarity join, adaptive between two exact
    plans (identical output, same SQL oracle):

    - ``dense``  — small global vocabulary ⇒ bit-vector popcount Jaccard over
      the block self-join (``_dense_bitmask_counts``).
    - ``prefix`` — open vocabulary ⇒ prefix-filtered candidates + per-pair
      array-intersect verify (``_prefix_filtered_counts``): hot shingles
      never join, candidate fan-out is bounded by rare-shingle frequencies —
      the 100-TB shape.
    - ``inverted`` — the unfiltered inverted index (baseline/testing).
    - ``auto``   — one cheap distinct-count decides dense vs prefix.

    Scale notes: the dense path requires bounded block sizes (vocabulary
    that small implies templated data; AQE skew-join splits oversized
    blocks). The prefix path's only wide ops are linear shuffles (frequency
    groupBy, per-doc rank window) plus the pruned candidate join.
    """
    sh = docs.select(
        F.col(block_col).alias("blk"),
        F.col(id_col).alias("id"),
        F.explode(char_shingles(F.col(text_col), n)).alias("sh"),
    )
    if cache_shingles:
        # the prefix/inverted plans consume this scan up to 6× (vocab probe,
        # frequency groupBy, per-doc rank, candidate join a/b, sizes) —
        # managed persist, same contract as minhash_lsh_pairs
        sh = _persist_scan(sh)

    vocab: list[str] | None = None
    if strategy in ("auto", "dense"):
        # bounded driver state (like the taxonomy map): pull at most
        # limit+1 distinct shingles to decide / build the literal bit map
        vocab = [
            r["sh"]
            for r in sh.select("sh").distinct().limit(dense_vocab_limit + 1).collect()
        ]
        if strategy == "auto":
            # empty vocab (no shingle-able text) → the prefix path returns
            # empty gracefully; dense would have zero mask words
            strategy = "dense" if 0 < len(vocab) <= dense_vocab_limit else "prefix"
        elif not (0 < len(vocab) <= dense_vocab_limit):
            raise ValueError(
                f"dense strategy needs 0 < vocab ≤ {dense_vocab_limit}"
            )

    if strategy == "dense":
        return _dense_jaccard_pairs(sh, vocab, threshold)
    if strategy == "prefix":
        return _jaccard_select(_prefix_filtered_counts(sh, threshold), threshold)
    if strategy == "inverted":
        sizes = sh.groupBy("id").agg(F.count("*").alias("n_sh"))
        return _jaccard_from_counts(_inverted_index_counts(sh), sizes, threshold)
    raise ValueError(f"unknown strategy {strategy!r}")


def simhash_from_hashes(hashes: Column, bits: int = 16) -> Column:
    """``bits``-bit SimHash over a PRE-HOISTED shingle-hash array: bit j set
    iff the sum of (2*((h>>j)&1) - 1) over all shingles is positive. Pure
    JVM arithmetic, reproduced verbatim in the SQL oracle.

    Callers building a DataFrame column should materialize
    ``transform(char_shingles(text, n), shingle_hash)`` as its OWN projected
    column first: each per-bit aggregate embeds a fresh copy of ``hashes``
    (Catalyst re-aliases lambda variables per occurrence, so no CSE), which
    re-ran the whole shingle+md5 chain once PER BIT — measured 2.19 s
    embedded vs 0.79 s hoisted on the sf0.1 full-corpus simhash scan,
    bit-identical fingerprints."""

    def _bit_weight(j: int):
        # (h >> j) & 1 expressed as floor(h / 2^j) % 2 — exact for the
        # non-negative mod-P hashes and 1-arg-lambda-safe
        return lambda acc, h: acc + (
            (F.floor(h / F.lit(float(1 << j))).cast("long") % 2) * 2 - 1
        )

    out = F.lit(0).cast("long")
    for j in range(bits):
        weight = F.aggregate(hashes, F.lit(0).cast("long"), _bit_weight(j))
        out = out + F.when(weight > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return out


def simhash(text: Column, n: int = 2, bits: int = 16) -> Column:
    """Embedded-form SimHash (shingle+md5 chain inlined once per bit) —
    kept as the simple Column API for tests/small inputs; hot paths hoist
    the hash array first (see ``simhash_from_hashes``)."""
    return simhash_from_hashes(F.transform(char_shingles(text, n), shingle_hash), bits)


def simhash_duplicate_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16
) -> DataFrame:
    """Docs sharing an identical SimHash fingerprint (cheap near-dup signal;
    ``simhash_near_dup_pairs`` is the hamming-tolerant scale-out variant)."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.transform(char_shingles(F.col(text_col), 2), shingle_hash).alias("_hv"),
        )
        .select("id", simhash_from_hashes(F.col("_hv"), bits).alias("simhash"))
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


def banded_candidates(base: DataFrame, bands: int) -> DataFrame:
    """Distinct candidate pairs colliding in at least one band (the
    OR-amplification union); ``base`` carries id + bk0..bk{bands-1}."""
    cand = None
    for b in range(bands):
        a_side = base.select(F.col("id").alias("a_id"), F.col(f"bk{b}").alias("bk"))
        b_side = base.select(F.col("id").alias("b_id"), F.col(f"bk{b}").alias("bk"))
        pairs = (
            a_side.join(b_side, "bk")
            .where(F.col("a_id") < F.col("b_id"))
            .select("a_id", "b_id")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    return cand.distinct()


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    bits: int = 16,
    bands: int = 4,
    max_distance: int = 3,
) -> DataFrame:
    """Banded hamming self-join over SimHash fingerprints →
    (a_id, b_id, hamming ≤ max_distance).

    LOSSLESS, not approximate: with ``max_distance < bands``, any pair within
    hamming distance d differs in at most d bands, so by pigeonhole at least
    one band matches exactly — candidate generation via ``bands`` equi-joins
    on band values finds every qualifying pair (the classic Manku et al.
    WWW'07 construction). The brute-force all-pairs check is therefore a
    valid SQL oracle. Scale shape: band values are uniform ints, candidates
    ≪ all-pairs, verify is one XOR+popcount per candidate."""
    if max_distance >= bands:
        raise ValueError(
            f"losslessness needs max_distance < bands, got {max_distance} ≥ {bands}"
        )
    if bits % bands:
        raise ValueError("bands must divide bits")
    bits_per_band = bits // bands
    mask = (1 << bits_per_band) - 1
    # hash array hoisted (md5 chain once, not once per bit — see
    # simhash_from_hashes)
    sims = docs.select(
        F.col(id_col).alias("id"),
        F.transform(char_shingles(F.col(text_col), n), shingle_hash).alias("_hv"),
    ).select("id", simhash_from_hashes(F.col("_hv"), bits).alias("h"))
    base = sims.select(
        "id",
        *[
            F.shiftright(F.col("h"), b * bits_per_band)
            .bitwiseAND(F.lit(mask))
            .alias(f"bk{b}")
            for b in range(bands)
        ],
    )
    cand = banded_candidates(base, bands)
    joined = (
        cand.join(sims.withColumnRenamed("id", "a_id").withColumnRenamed("h", "ha"), "a_id")
        .join(sims.withColumnRenamed("id", "b_id").withColumnRenamed("h", "hb"), "b_id")
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("int")
    return (
        joined.withColumn("hamming", hamming)
        .where(F.col("hamming") <= max_distance)
        .select("a_id", "b_id", "hamming")
    )


def near_dup_doc_groups(
    docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate GROUPS and pick one
    canonical representative per group — the step every dedup pipeline needs
    between candidate generation and the actual drop (cc_net / MassiveText
    keep-one-per-cluster semantics).

    Pairwise similarity is not transitive, so groups are the connected
    components of the pair graph (alternating large-star/small-star,
    O(log n) rounds — ``linking.connected_components``); the canonical doc
    is the component's minimum id and every doc maps to exactly one
    canonical. Output: (id_col, canonical_id, is_canonical) for EVERY input
    doc (singletons map to themselves), so the keep-filter is
    ``is_canonical`` and the drop-count is a plain aggregate."""
    from .linking import connected_components

    verts = docs.select(F.col(id_col).alias("id"))
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    comps = connected_components(verts, edges)
    return comps.select(
        F.col("id").alias(id_col),
        F.col("component").alias("canonical_id"),
        (F.col("id") == F.col("component")).cast("int").alias("is_canonical"),
    )


def paragraph_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_chars: int = 10,
) -> DataFrame:
    """CCNet-style GLOBAL paragraph dedup — the reference corpus's actual
    lineage (SURVEY §1.3: the production zh corpus was produced by CCNet's
    SHA-1 paragraph dedup before any extraction ran). Every normalized
    (lower+trim) paragraph keeps only its FIRST occurrence corpus-wide
    (lowest ``(doc_id, idx)``); later occurrences are dropped and the doc
    text is rebuilt. Paragraphs shorter than ``min_chars`` after trim are
    never deduped (blank lines / headings survive per-doc).
    → ``(doc_id, text, n_kept, n_dropped)``.

    Scale shape (r6): paragraph BODIES never shuffle. The exploded frame is
    projected to ``(doc_id, idx, md5(norm), is_long)`` right after hashing
    (CCNet used SHA-1 for the same reason; md5 here keeps the DuckDB oracle
    exact), first-occurrence is one partial-aggregatable
    ``min(struct(doc_id, idx))`` — map-side combine, NO window over the
    paragraph key (a hot boilerplate paragraph would serialize a window's
    sort) — and the winners regroup into a per-doc kept-index LIST (ints,
    bounded by paragraphs-per-doc). That narrow list joins back to the
    ORIGINAL one-row-per-doc table and the rebuild is a map-only array
    filter by index: split → keep where short or idx ∈ keep_idx →
    concat_ws, with ``n_orig``/``n_kept`` riding the same projection. The
    r5 shape shuffled paragraph bodies twice (semi-join by key + rebuild
    groupBy); now the only body movement is the doc-side hash join input,
    and the three shuffles all carry fixed-width keys/ints. ``docs`` is
    managed-persisted (two consumers: the hashing explode and the rebuild
    join; Spark reuses exchanges, not scans).

    A doc with NULL ``text`` is absent from the output (unchanged: the
    explode dropped it in the r5 shape too).
    """
    docs = _persist_scan(
        docs.where(F.col(text_col).isNotNull()).select(
            F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
        )
    )
    norm = F.lower(F.trim(F.col("para")))
    keyed = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), sep, -1)).alias("idx", "para"),
    ).select(
        "doc_id", "idx",
        F.md5(norm).alias("k"),
        (F.length(norm) >= min_chars).alias("is_long"),
    )
    firsts = (
        keyed.where("is_long")
        .groupBy("k")
        .agg(F.min(F.struct("doc_id", "idx")).alias("f"))
    )
    keep = firsts.groupBy(F.col("f.doc_id").alias("doc_id")).agg(
        F.collect_set(F.col("f.idx")).alias("keep_idx")
    )
    # Map-only rebuild: a para survives iff it is short (never deduped) or
    # its position won the corpus-wide min(struct). A short para's idx can
    # never appear in keep_idx (that position holds a long para), and
    # array_contains(NULL, i) — a doc with no winning long paras — must
    # read as "drop", hence the explicit coalesce(…, false).
    # paragraph array hoisted (split once — the embedded form split again
    # for the n_dropped size; no CSE across copies)
    paras = F.col("_paras")
    kept = F.filter(
        F.transform(paras, lambda p, i: F.struct(i.alias("idx"), p.alias("para"))),
        lambda s: (F.length(F.lower(F.trim(s["para"]))) < min_chars)
        | F.coalesce(F.array_contains(F.col("keep_idx"), s["idx"]), F.lit(False)),
    )
    return (
        docs.join(keep, "doc_id", "left")
        .withColumn("_paras", F.split(F.col("text"), sep, -1))
        .withColumn("_kept", kept)
        .select(
            "doc_id",
            F.concat_ws(sep, F.transform("_kept", lambda s: s["para"])).alias("text"),
            F.size("_kept").cast("long").alias("n_kept"),
            (F.size(paras) - F.size("_kept")).cast("long").alias("n_dropped"),
        )
    )


def substring_dup_docs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 30,
    anchor_mod: int = 1,
) -> DataFrame:
    """Exact-substring duplication audit (the shingle-grid variant of Lee et
    al. 2022's suffix-array ExactSubstr dedup): flag every doc that shares
    an exact ``k``-char substring with an EARLIER doc (smaller id), with the
    shared snippet surfaced for inspection.  Output per input doc:
    ``n_dup_anchors`` (distinct shared anchor substrings), ``dup_owner``
    (smallest earlier doc id sharing one), ``dup_example`` (lexicographically
    first shared substring), ``has_dup_substring`` (0/1).

    Scale shape — NO pair join anywhere: every doc's k-shingles map to a
    ``min(id)`` OWNER per substring (one partial-aggregated groupBy); a doc
    is a duplicate iff one of its shingles has an owner smaller than itself.
    A viral substring shared by 10^6 docs costs one hot-key AGGREGATE (AQE
    skew-splittable, associative) instead of the 10^12-row pair explosion a
    join-based design would produce.  ``anchor_mod`` is the 100-TB lever:
    keep only content-defined anchor shingles (md5 hash ≡ 0 mod m) — BOTH
    occurrences of a shared region keep the same anchors, so a shared
    substring of length ≥ k is still caught whenever it contains ≥1 anchor
    (probability ≈ 1-(1-1/m)^(L-k+1); m=1 is exact for ≥k).  The k-char
    explode is a ~k× row blowup bounded per task — the same cost profile as
    the MinHash shingle stage above, and why ExactSubstr needs no second
    pass here."""
    text = F.col(text_col)
    grid = F.transform(
        F.sequence(F.lit(1), F.length(text) - (k - 1)),
        lambda i: text.substr(i, F.lit(k)),
    )
    if anchor_mod > 1:
        # anchor filter INSIDE the array (whole-stage-codegen HOF) so only
        # anchored shingles ever materialize as rows — the explode output and
        # every downstream shuffle shrink by ~1/anchor_mod
        grid = F.filter(grid, lambda s: shingle_hash(s) % anchor_mod == 0)
    shingles = F.when(F.length(text) >= k, F.array_distinct(grid)).otherwise(
        F.array().cast("array<string>")
    )
    sh = docs.select(F.col(id_col), F.explode(shingles).alias("sub"))
    # ONE pass over the k× shingle grid: min-owner via a window over the
    # substring key (a groupBy+self-join would recompute the grid — Catalyst
    # reuses exchanges, not scans, and the partial aggregate breaks subtree
    # equality).  Group size = duplication multiplicity of one substring
    # (spill-safe WindowExec buffering; anchor_mod thins viral substrings
    # proportionally), vs TWO full-grid shuffles + a recompute for the join
    # shape.
    from pyspark.sql.window import Window

    owner_w = Window.partitionBy("sub")
    dup = (
        sh.withColumn("_owner", F.min(id_col).over(owner_w))
        .where(F.col(id_col) > F.col("_owner"))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_dup_anchors"),
            F.min("_owner").alias("dup_owner"),
            F.min("sub").alias("dup_example"),
        )
    )
    return (
        docs.select(id_col)
        .join(dup, id_col, "left")
        .withColumn("n_dup_anchors", F.coalesce("n_dup_anchors", F.lit(0).cast("long")))
        .withColumn("has_dup_substring", F.col("dup_owner").isNotNull().cast("int"))
    )
