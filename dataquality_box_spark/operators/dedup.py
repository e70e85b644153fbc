"""Scale-path near-duplicate detection: MinHash-LSH, SimHash, sign-LSH ANN.

These are the DEFAULT routes for pair-generating dedup at 100 TB. The
all-pairs forms (token self-join, broadcast cross-join) stay next to them
in driver_queries as verification baselines only — their candidate count
is quadratic in token document frequency / corpus size, which a single
stop-word or 10^9 rows turns into a non-plan. Here every pair-generating
step is bucket-first:

  * MinHash: 64 permutations banded 16x4 — at Jaccard s the candidate
    probability is 1-(1-s^4)^16 (~0.9998 at s=0.8), and only docs sharing
    a band bucket are ever joined.
  * Document-frequency cap: tokens appearing in more than df_cap_frac of
    docs are dropped before signatures AND verification (a Zipf head
    token is a near-cross-join; the hot-token list is tiny by
    construction, so it broadcasts).
  * SimHash 64-bit (two salted md5 halves) with 4x16-bit Hamming bands —
    candidates share at least one band, verified by exact Hamming
    distance via bit_count(xor).

All hashes are md5-derived strings/bits so the DuckDB oracle twins agree
bit-for-bit (same convention as the round-1 minhash queries).

Reference analog: the dedup family has no counterpart in the reference
(its dedup is key-based, plugins/services/reconciliation_runner.py:501-631);
these are the LLM-training-data operators the brief mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

N_PERMS = 64
N_BANDS = 16
ROWS_PER_BAND = N_PERMS // N_BANDS


def token_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    df_cap_inv: int | None = 5,
) -> DataFrame:
    """Distinct (id, tok) pairs with a document-frequency cap.

    Tokens present in more than 1/``df_cap_inv`` of all docs are removed —
    they carry no near-dup signal and their token-equality joins are
    quadratic in df. The predicate is pure-integer (df * df_cap_inv >
    n_docs) so the DuckDB oracle agrees exactly (float fractions would
    hit DECIMAL-vs-DOUBLE rounding differences across engines). The
    hot-token list is computed distributed and broadcast for the anti
    join (it is small by Zipf's law).
    """
    from ..functions.text import tokens

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).distinct()
    if df_cap_inv is None:
        return toks
    # persist BEFORE deriving the cap: the un-persisted form re-ran the
    # explode+distinct subtree three times (main branch, hot-token DF
    # agg, ndocs countDistinct). At sf0.1 the wall win is modest
    # (1.02s -> 0.88s best-of-N — the small subtree overlaps across
    # jobs) but at corpus scale this is one tokenize+distinct pass
    # instead of three. Downstream persists (the LSH route caches the
    # CAPPED set for its three consumers) compose with this one;
    # MEMORY_AND_DISK spills instead of failing, and the cache outlives
    # the call because the returned plan is lazy (same lifetime note as
    # jaccard_pairs_lsh_from_tokens).
    from pyspark import StorageLevel

    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    hot = hot_token_list(toks, id_col, df_cap_inv)
    return toks.join(F.broadcast(hot), on="tok", how="left_anti").select(id_col, "tok")


def hot_token_list(
    toks: DataFrame, id_col: str = "doc_id", df_cap_inv: int = 5
) -> DataFrame:
    """The DF-cap's hot-token table: tokens in more than 1/``df_cap_inv``
    of docs. Exposed so the list can be PERSISTED with a corpus index and
    re-applied to later recrawl batches — both sides of an incremental
    match must drop the same tokens (one shared cap population)."""
    ndocs = toks.agg(F.countDistinct(id_col).alias("__nd"))
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("__df"))
        .crossJoin(F.broadcast(ndocs))
        .filter(F.col("__df") * F.lit(df_cap_inv) > F.col("__nd"))
        .select("tok")
    )


MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def perm_consts(k: int) -> tuple[int, int]:
    """Deterministic (a, b) for the k-th universal-hash permutation
    h_k(x) = (a*x + b) mod p. Derived from md5 so both engines embed the
    same literals; a is odd and < 2^30 so a*x + b stays under 2^62
    (no int64 overflow with x < 2^32)."""
    import hashlib

    h = hashlib.md5(f"perm#{k}".encode()).hexdigest()
    a = (int(h[:8], 16) & 0x3FFFFFFF) | 1
    b = int(h[8:16], 16) & 0x3FFFFFFF
    return a, b


def _tok_int():
    """Token -> 32-bit int: first 8 hex chars of ONE md5. The 64
    permutations are then pure integer arithmetic — 64x fewer md5 calls
    per token row than salted-md5-per-permutation (measured ~2.4x on the
    signature aggregation at sf0.1, best-of-3 on the noisy host)."""
    return F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 8), 16, 10).cast(
        "long"
    )


def _minhash(k: int):
    a, b = perm_consts(k)
    return F.min((F.lit(a) * F.col("__x") + F.lit(b)) % F.lit(MINHASH_PRIME))


def minhash_band_signatures(
    toks: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc MinHash signature compressed to N_BANDS band keys.

    Each band key is md5 of ROWS_PER_BAND consecutive minhash values —
    equal band key <=> equal minhash rows, the standard LSH banding.
    One groupBy over the token pairs; narrow afterwards.
    """
    hashed = toks.withColumn("__x", _tok_int())
    mins = [
        _minhash(k).alias(f"__m{k}") for k in range(N_PERMS)
    ]
    sig = hashed.groupBy(id_col).agg(*mins)
    bands = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"__m{b * ROWS_PER_BAND + r}").cast("string")
                    for r in range(ROWS_PER_BAND)
                ],
            ).cast("binary")
        ).alias(f"band{b:02d}")
        for b in range(N_BANDS)
    ]
    return sig.select(F.col(id_col), *bands)


def band_buckets(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Unpivot band columns to (id, band_idx, band_key) rows."""
    stack_args = ", ".join(f"{b}, band{b:02d}" for b in range(N_BANDS))
    return sig.selectExpr(
        id_col, f"stack({N_BANDS}, {stack_args}) AS (band_idx, band_key)"
    )


def lsh_candidate_pairs(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing at least one band bucket.

    The self-join is on (band_idx, band_key) — only same-bucket docs meet,
    so work is sum over buckets of bucket_size^2, bounded by the actual
    duplication rate instead of the corpus size.
    """
    b = band_buckets(sig, id_col)
    a = b.select(F.col(id_col).alias("doc_a"), "band_idx", "band_key")
    c = b.select(F.col(id_col).alias("doc_b"), "band_idx", "band_key")
    return (
        a.join(c, on=["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def jaccard_verify(
    cands: DataFrame, toks: DataFrame, id_col: str = "doc_id", threshold: float = 0.8
) -> DataFrame:
    """Exact token-set Jaccard within candidate pairs only."""
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("sz"))
    return jaccard_verify_two_sided(cands, toks, toks, sizes, sizes, id_col, threshold)


def jaccard_verify_two_sided(
    cands: DataFrame,
    toks_a: DataFrame,
    toks_b: DataFrame,
    sizes_a: DataFrame,
    sizes_b: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact Jaccard over candidate pairs whose two sides come from
    DIFFERENT token stores — the incremental shape, where doc_a tokens are
    the fresh batch and doc_b tokens/sizes are read from the persisted
    corpus index (never recomputed)."""
    ta = toks_a.select(F.col(id_col).alias("doc_a"), "tok")
    tb = toks_b.select(F.col(id_col).alias("__docb"), F.col("tok").alias("__tokb"))
    inter = (
        cands.join(ta, on="doc_a")
        .join(
            tb,
            (F.col("doc_b") == F.col("__docb")) & (F.col("tok") == F.col("__tokb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes_a.select(F.col(id_col).alias("doc_a"), F.col("sz").alias("__sa"))
    sb = sizes_b.select(F.col(id_col).alias("doc_b"), F.col("sz").alias("__sb"))
    jac = F.col("n_common") / (F.col("__sa") + F.col("__sb") - F.col("n_common"))
    return (
        inter.join(sa, on="doc_a")
        .join(sb, on="doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


def jaccard_pairs_lsh(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    df_cap_inv: int = 5,
) -> DataFrame:
    """The default near-dup route: DF cap -> MinHash 64x(16x4) LSH
    candidates -> exact Jaccard verify within buckets.

    The capped token set feeds three consumers (signatures, sizes, the
    verify join); without a persist Catalyst re-derives the whole
    tokenize+DF-cap subtree for each, so jaccard_pairs_lsh_from_tokens
    caches it (MEMORY_AND_DISK — spills instead of failing)."""
    toks = token_sets(docs, id_col, text_col, df_cap_inv)
    return jaccard_pairs_lsh_from_tokens(toks, id_col, threshold)


def shingle_sets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Distinct (id, tok) pairs where tok is an n-token shingle — the
    standard unit for near-dup detection (token unigrams conflate
    documents with similar vocabulary; shingles require similar
    SEQUENCES). Docs with fewer than n tokens produce no shingles.
    Output column is named 'tok' so the MinHash/Jaccard machinery applies
    unchanged."""
    from ..functions.text import ngram_explode, tokens

    # ngram_explode: codegen gram construction (the transform-lambda
    # array form measured 22x slower at local[32]) + short-doc guard
    return ngram_explode(
        docs, [id_col], tokens(F.col(text_col)), n, gram_col="tok"
    ).distinct()


def jaccard_pairs_lsh_from_tokens(
    toks: DataFrame, id_col: str = "doc_id", threshold: float = 0.8
) -> DataFrame:
    """LSH route over a pre-built (id, tok) set (unigrams, shingles,
    char n-grams, ...). Persists the set for its three consumers
    (signatures, sizes, verify join). Lifetime note: the cache outlives
    this call because the returned plan is lazy — long-lived sessions
    running many dedup queries should ``unpersist`` the input after
    consuming the result (MEMORY_AND_DISK blocks are otherwise held
    until LRU eviction)."""
    from pyspark import StorageLevel

    toks = toks.persist(StorageLevel.MEMORY_AND_DISK)
    sig = minhash_band_signatures(toks, id_col)
    cands = lsh_candidate_pairs(sig, id_col)
    return jaccard_verify(cands, toks, id_col, threshold)


# --- SimHash 64-bit -------------------------------------------------------

_HI_NIBBLES = ["8", "9", "a", "b", "c", "d", "e", "f"]


def _half_bits(hash_col, base: int) -> list:
    """32 signed bit-sums from the nibble high bits of one md5 column."""
    return [
        F.sum(
            F.when(F.substring(hash_col, k + 1, 1).isin(_HI_NIBBLES), 1).otherwise(-1)
        ).alias(f"s{base + k}")
        for k in range(32)
    ]


def simhash64(toks: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash as two 32-bit halves (simhash_hi, simhash_lo).

    Two salted md5s supply 32 nibble-high bits each; storing halves in
    two BIGINTs sidesteps the sign bit of a single 64-bit value and makes
    the Hamming distance a pair of bit_count(xor(...)) calls.
    """
    h1 = F.md5(F.col("tok").cast("binary"))
    h2 = F.md5(F.concat(F.col("tok"), F.lit("#s1")).cast("binary"))
    hashed = toks.select(id_col, h1.alias("__h1"), h2.alias("__h2"))
    aggs = _half_bits(F.col("__h1"), 0) + _half_bits(F.col("__h2"), 32)
    bits = hashed.groupBy(id_col).agg(*aggs)

    def combine(base: int):
        out = None
        for k in range(32):
            term = F.when(F.col(f"s{base + k}") > 0, F.lit(1 << k)).otherwise(F.lit(0))
            out = term if out is None else out + term
        return out.cast("long")

    return bits.select(
        F.col(id_col),
        combine(0).alias("simhash_hi"),
        combine(32).alias("simhash_lo"),
    )


def simhash_band_cols():
    """4x16-bit Hamming band values from the two 32-bit halves."""
    return {
        "b0": F.shiftright(F.col("simhash_hi"), 16),
        "b1": F.col("simhash_hi").bitwiseAND(F.lit(65535)),
        "b2": F.shiftright(F.col("simhash_lo"), 16),
        "b3": F.col("simhash_lo").bitwiseAND(F.lit(65535)),
    }


def simhash_hamming_pairs(
    sh: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: candidates share >=1 of 4 16-bit bands,
    verified by exact 64-bit Hamming distance.

    Completeness: with 4 bands, any pair at Hamming <= 3 leaves at least
    one band untouched (pigeonhole), so recall is EXACT for the default
    threshold — the standard 64-bit/k=3/4-table parameterization (Manku
    et al., WWW'07). Raising max_hamming above 3 makes recall best-effort
    (a pair can flip a bit in every band).
    """
    with_bands = sh
    for name, col in simhash_band_cols().items():
        with_bands = with_bands.withColumn(name, col)
    stacked = with_bands.selectExpr(
        id_col,
        "simhash_hi",
        "simhash_lo",
        "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (band_idx, band_val)",
    )
    a = stacked.select(
        F.col(id_col).alias("doc_a"),
        F.col("simhash_hi").alias("__hia"),
        F.col("simhash_lo").alias("__loa"),
        "band_idx",
        "band_val",
    )
    b = stacked.select(
        F.col(id_col).alias("doc_b"),
        F.col("simhash_hi").alias("__hib"),
        F.col("simhash_lo").alias("__lob"),
        "band_idx",
        "band_val",
    )
    hamming = F.expr("bit_count(__hia ^ __hib) + bit_count(__loa ^ __lob)")
    return (
        a.join(b, on=["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def incremental_lsh_pairs(
    new_toks: DataFrame,
    corpus_toks: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dup for recrawls, SELF-CONTAINED form: only the
    NEW batch's band buckets are probed against the corpus's buckets, and
    Jaccard is verified on those candidate pairs alone — but the corpus
    signatures are recomputed inline here. The production route is
    ``persist_corpus_index`` + ``incremental_lsh_pairs_stored`` below,
    where a recrawl costs O(new batch) hashing + bucket joins against the
    stored index and the corpus is never rescanned. This form exists for
    the oracle twin (one closed SQL expression) and small one-shot jobs.
    Returns (doc_a=new id, doc_b=corpus id, jaccard).

    The token sets fed in must share one document-frequency cap
    population (pass splits of a single ``token_sets`` output) so both
    sides drop the same hot tokens.
    """
    nb = band_buckets(minhash_band_signatures(new_toks, id_col), id_col).select(
        F.col(id_col).alias("doc_a"), "band_idx", "band_key"
    )
    cb = band_buckets(minhash_band_signatures(corpus_toks, id_col), id_col).select(
        F.col(id_col).alias("doc_b"), "band_idx", "band_key"
    )
    cands = _probe_candidates(nb, cb)
    # replace-wholesale: for an id delivered on BOTH sides (typical
    # recrawl) the NEW batch's token set wins outright — a plain
    # union+distinct would merge old+new tokens for a changed doc,
    # inflating its size (and n_common for its pairs), skewing Jaccard
    # low. Same semantics persist_corpus_index documents for the stored
    # route.
    new_ids = new_toks.select(id_col).distinct()
    corpus_only = corpus_toks.join(new_ids, on=id_col, how="left_anti")
    toks = new_toks.unionByName(corpus_only).distinct()
    return jaccard_verify(cands, toks, id_col, threshold)


def _probe_candidates(nb: DataFrame, cb: DataFrame) -> DataFrame:
    """New-batch bands probing corpus bands: bucket-equality join only,
    self-pairs from re-delivered ids excluded (shared by the inline and
    stored incremental routes)."""
    return (
        nb.join(cb, ["band_idx", "band_key"])
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _with_singletons(
    labels: DataFrame, all_docs: DataFrame | None, id_col: str
) -> DataFrame:
    """Union docs with NO near-dup pair as their own single-member
    clusters (cluster_id = own id, keep = true). Without this the output
    contains edge endpoints only — callers who inner-join it against the
    corpus silently drop every clean document."""
    out = labels.select(
        "doc_id",
        F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("keep"),
    )
    if all_docs is None:
        return out
    singles = (
        all_docs.select(F.col(id_col).alias("doc_id"))
        .distinct()
        .join(labels.select("doc_id"), on="doc_id", how="left_anti")
        .select(
            "doc_id", F.col("doc_id").alias("cluster_id"), F.lit(True).alias("keep")
        )
    )
    return out.unionByName(singles)


def duplicate_clusters(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 20,
    all_docs: DataFrame | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, cluster_id,
    keep). Pairs alone don't dedup a corpus: transitive duplicates
    (A~B, B~C) must collapse into ONE cluster with one kept
    representative, else dropping per-pair either over-deletes (both
    sides) or keeps near-dups (neither).

    Algorithm: iterative min-label propagation — each round every node
    takes the min label among itself and its neighbors (one join + one
    groupBy over the EDGE set, which is duplication-rate-sized, not
    corpus-sized). Converges in O(cluster diameter) rounds; near-dup
    clusters are star/chain-shaped and tiny, so the default cap of 20 is
    generous (the loop exits early on a fixpoint — the per-round change
    count is a scalar action on a localCheckpointed label table, same
    tiny-aggregate exception as the k-means movement check). If the cap
    is exhausted BEFORE the fixpoint the result would silently split
    long chains into several clusters (each keeping its own
    representative, so near-dups survive) — that is an error here, and
    the raise names ``duplicate_clusters_star``, which converges in
    O(log n) rounds on exactly those pathological chains.

    Output contract: only edge endpoints appear unless ``all_docs`` is
    given, in which case pair-free docs are emitted as singleton
    clusters (cluster_id = own id, keep = true) so joining the output
    back to the corpus loses nothing. cluster_id is the component's min
    doc id; keep marks the representative (min-id policy —
    deterministic; swap in quality-ranked selection via
    ``pick_representatives``).
    """
    if max_iters < 1:
        raise ValueError("max_iters must be >= 1 (0 would skip propagation "
                         "AND the non-convergence guard)")
    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    edges = (
        edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        # materialize: every iteration joins against edges, and without a
        # checkpoint each round's action re-derives the WHOLE upstream
        # pair pipeline (the LSH route) from lineage
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iters):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"), F.col("label").alias("__nl")
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("__nl").alias("__nbr_min"))
        )
        new_labels = (
            labels.join(
                nbr_min, labels["doc_id"] == nbr_min["src"], "left"
            )
            .select(
                "doc_id",
                F.least(
                    F.col("label"), F.coalesce("__nbr_min", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters did not converge in max_iters={max_iters} "
            "rounds (a duplicate chain longer than the cap would be left "
            "split, silently keeping near-dups); raise max_iters or use "
            "duplicate_clusters_star, which needs O(log n) rounds on long "
            "chains"
        )
    return _with_singletons(labels, all_docs, id_col)


def duplicate_clusters_star(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iters: int = 50,
    all_docs: DataFrame | None = None,
    id_col: str = "doc_id",
    rounds_out: list | None = None,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same signature and output contract as
    ``duplicate_clusters``, but convergence is O(log n) ROUNDS even on
    pathological long chains where min-label propagation needs
    O(diameter) rounds (a 1k-link chain: ~10 alternations vs ~1000
    label rounds — asserted in tests).

      * large-star: every node links its LARGER neighbors to the min of
        its closed neighborhood.
      * small-star: every node links its smaller-or-equal neighbors (and
        itself) to that min.

    Each phase is one groupBy + one join over the edge set
    (duplication-rate-sized); the edge set is localCheckpointed per
    round so convergence actions never replay upstream lineage. At the
    fixpoint every component is a star rooted at its min id; labels read
    off the star edges. ``rounds_out``, if given, receives the number of
    alternation rounds used (test/telemetry seam)."""
    edges = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("src"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # endpoint set fixed up front FROM THE RAW PAIRS (not the
    # self-pair-filtered edges): a doc appearing only in self-pairs must
    # still get a singleton label row, matching duplicate_clusters;
    # star rounds may also drop intermediate nodes from the edge list,
    # but every original endpoint needs a label at the end
    nodes = (
        pairs.select(F.col(a_col).alias("doc_id"))
        .unionByName(pairs.select(F.col(b_col).alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        # both orientations: (u, v) for every neighbor v of u
        bi = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        m = bi.groupBy("src").agg(F.min("dst").alias("__mn"))
        center_min = F.least(F.col("src"), F.col("__mn"))
        # connect strictly-larger neighbors to min(closed neighborhood);
        # m <= u < v so (m, v) is already canonically oriented
        return (
            bi.join(m, on="src")
            .filter(F.col("dst") > F.col("src"))
            .select(center_min.alias("src"), F.col("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # canonical (src < dst): dst is the center, its smaller
        # neighbors are the src values; min(closed nbhd) = min(src)
        m = e.groupBy("dst").agg(F.min("src").alias("__m"))
        link_nbrs = e.join(m, on="dst").select(
            F.col("__m").alias("src"), F.col("src").alias("dst")
        )
        link_center = m.select(F.col("__m").alias("src"), F.col("dst"))
        return (
            link_nbrs.unionByName(link_center)
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    rounds = 0
    for _ in range(max_iters):
        new_edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        rounds += 1
        # set equality: same count + empty one-sided difference (both
        # tiny actions over checkpointed, edge-set-sized frames)
        if (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).isEmpty()
        ):
            edges = new_edges
            break
        edges = new_edges
    else:
        raise RuntimeError(
            f"duplicate_clusters_star did not converge in {max_iters} rounds"
        )
    if rounds_out is not None:
        rounds_out.append(rounds)
    # fixpoint edges form stars (root=min, leaf): root's label is itself
    leaf_labels = edges.select(
        F.col("dst").alias("doc_id"), F.col("src").alias("label")
    )
    labels = nodes.join(leaf_labels, on="doc_id", how="left").select(
        "doc_id", F.coalesce("label", F.col("doc_id")).alias("label")
    )
    return _with_singletons(labels, all_docs, id_col)


def pick_representatives(
    clusters: DataFrame,
    quality: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Re-select each cluster's kept doc by QUALITY instead of min-id:
    join a per-doc score (e.g. the doc_quality_score output) and keep the
    argmax per cluster — the policy real pipelines want (drop the worse
    copies, not the higher-numbered ones). Ties and missing scores break
    to the smaller id, so selection stays deterministic. One window over
    the clustered rows (duplication-rate-sized, not corpus-sized)."""
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc_nulls_last(), F.col(id_col)
    )
    joined = clusters.drop("keep").join(
        quality.select(id_col, score_col), on=id_col, how="left"
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .withColumn("keep", F.col("__rn") == 1)
        .drop("__rn", score_col)
    )


# --- Persisted corpus LSH index (the production incremental route) --------


def persist_corpus_index(
    spark,
    io,
    toks: DataFrame,
    id_col: str = "doc_id",
    prefix: str = "lsh_corpus",
    hot_tokens: DataFrame | None = None,
    n_buckets: int = 16,
    batch_ids: DataFrame | None = None,
) -> None:
    """Build + persist the corpus's LSH index through TableIO:

      {prefix}_buckets  (id, band_idx, band_key)  — the probe table
      {prefix}_tokens   (id, tok)                 — for exact verify
      {prefix}_sizes    (id, sz)                  — |set| per doc
      {prefix}_hot      (tok)                     — the DF-cap population,
                                                    if caller provides it

    All four go through PARTITION-BOUNDED MERGE upserts
    (``merge_upsert_bucketed``): each table is hive-partitioned by a
    crc32 bucket of its key, and a batch reads + rewrites ONLY the
    bucket partitions its keys touch — at 100 TB a recrawl batch costs
    O(batch) partition rewrites, never a full index rewrite (untouched
    partitions' files stay byte-identical, asserted in tests). The SAME
    call both creates the index and grows it with a processed batch.
    Re-delivered ids replace their rows WHOLESALE: buckets and tokens
    are merged keyed on the doc id (not (id, tok)), so a changed
    recrawled doc's removed tokens are deleted rather than surviving
    next to the new ones — a stale token row would inflate n_common
    against the replaced sizes and produce Jaccard values above the true
    overlap (even > 1). The hot-token list only grows (a token once
    capped stays capped — conservative for recall, stable for replays).
    At 100 TB this is the one-time hashing pass over the corpus; every
    later recrawl costs O(new batch) hashing plus bucket-equality joins
    against these tables.
    Contract: ``toks`` must already be DF-capped with the population whose
    hot list is persisted alongside (pass both from one ``token_sets`` /
    ``hot_token_list`` computation).

    ``batch_ids`` (one id column) widens the wholesale-replace set beyond
    the ids present in ``toks``: a recrawled doc whose tokens were ALL
    DF-capped away (or whose text emptied) has zero rows in toks, so
    without batch_ids its stale index rows would survive and keep
    matching content that no longer exists. Pass the batch's full id
    frame whenever re-delivery can shrink a doc to zero tokens.
    """
    from ..sources.merge import merge_upsert_bucketed

    sig = minhash_band_signatures(toks, id_col)
    merge_upsert_bucketed(
        spark, io, band_buckets(sig, id_col), f"{prefix}_buckets",
        keys=[id_col], n_buckets=n_buckets, replace_keys=batch_ids,
    )
    merge_upsert_bucketed(
        spark, io, toks, f"{prefix}_tokens", keys=[id_col],
        n_buckets=n_buckets, replace_keys=batch_ids,
    )
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("sz"))
    merge_upsert_bucketed(
        spark, io, sizes, f"{prefix}_sizes", keys=[id_col],
        n_buckets=n_buckets, replace_keys=batch_ids,
    )
    if hot_tokens is not None:
        merge_upsert_bucketed(
            spark, io, hot_tokens, f"{prefix}_hot", keys=["tok"],
            n_buckets=n_buckets,
        )


def incremental_lsh_pairs_stored(
    spark,
    io,
    new_toks: DataFrame,
    id_col: str = "doc_id",
    threshold: float = 0.8,
    prefix: str = "lsh_corpus",
) -> DataFrame:
    """Recrawl near-dup against the PERSISTED corpus index: only the new
    batch is tokenized/hashed; candidates come from probing the stored
    bucket table; exact Jaccard joins new-batch tokens with the STORED
    corpus token sets and sizes. The corpus source (raw documents) is
    scanned zero times — plan-asserted in tests. If the index carries a
    persisted hot-token list, it is re-applied to the new batch so both
    sides share one DF-cap population (pass new_toks UNCAPPED in that
    case). Self-pairs from re-delivered ids are excluded; their corpus-
    side rows reflect the index as of the last ``persist_corpus_index``.
    Returns (doc_a = new id, doc_b = corpus id, jaccard).
    """
    from ..sources.merge import read_merged

    # backend-respecting existence probe: a catalog-backed TableIO keeps
    # the hot list in the catalog, where an os.path.isdir poke would
    # silently miss it and drop the shared DF-cap
    if io.table_exists(spark, f"{prefix}_hot"):
        hot = read_merged(spark, io, f"{prefix}_hot").select("tok")
        new_toks = new_toks.join(F.broadcast(hot), on="tok", how="left_anti")
    nb = band_buckets(minhash_band_signatures(new_toks, id_col), id_col).select(
        F.col(id_col).alias("doc_a"), "band_idx", "band_key"
    )
    cb = read_merged(spark, io, f"{prefix}_buckets").select(
        F.col(id_col).alias("doc_b"), "band_idx", "band_key"
    )
    cands = _probe_candidates(nb, cb)
    new_sizes = new_toks.groupBy(id_col).agg(F.count("*").alias("sz"))
    return jaccard_verify_two_sided(
        cands,
        new_toks,
        read_merged(spark, io, f"{prefix}_tokens"),
        new_sizes,
        read_merged(spark, io, f"{prefix}_sizes"),
        id_col,
        threshold,
    )


def _split_mega_clusters(
    lists: DataFrame,
    max_cluster: int,
    id_col: str,
    emb_col: str,
    split_k: int = 8,
    max_depth: int = 8,
) -> DataFrame:
    """Bound SemDeDup's per-cluster pairwise population: refine clusters
    larger than ``max_cluster`` by recursive Voronoi splitting until
    every refined cell fits, so Σ sz² stays O(n * max_cluster) instead of
    O(max_sz²). Two mechanisms, in order:

    1. **Exact collapse** — members whose (9-dp rounded) embedding is
       byte-identical to a lower-id cluster-mate are marked
       ``__exact_dup``: their cosine to that mate is exactly 1.0 ≥ tau,
       so they never need the pairwise join at all. This also makes the
       splitter's progress guarantee unconditional: the degenerate
       mega-cluster (millions of copies of one vector) collapses to one
       representative here, where no amount of k-means could separate it.
    2. **Zero-vector exclusion** — all-zero embeddings (failed-embedding
       rows) have undefined cosine with everything (the pairwise join
       yields NULL → keep), so they are marked ``__zero`` and never enter
       the pair join at all. Without this a mega-cluster of zero vectors
       would be unsplittable (every pairwise distance is 0) AND pointless
       to split — its pairs can never cross tau.
    3. **Recursive Voronoi split** — oversized clusters (of now-distinct,
       nonzero representatives) are split by assigning each member to the
       nearest of ``split_k`` deterministic hash-spread seed members (L2;
       ties break to the member's OWN seed row first — a seed always
       claims itself even when rounded distances tie at 0 — then to the
       smallest seed code). So every round strictly shrinks an oversized
       cluster; typical data shrinks geometrically. Refined ids are path
       strings ("<centroid_id>.<code>.<code>…") in ``__cid``.

    Raises after ``max_depth`` rounds with a message naming SemDeDup's
    K-scaling regime — the paper's remedy (grow K with the corpus) is the
    structural fix when the coarse quantizer is too small for the data
    (reachable only for >max_cluster DISTINCT vectors packed inside the
    L2 rounding radius — quasi-identical but not 9-dp identical).

    Returns ``lists`` plus ``__cid`` (refined cluster id, string),
    ``__exact_dup`` and ``__zero`` (bool). Each round is one small size
    agg, one broadcast join tagging oversized members (no driver-side id
    list — the oversized-cluster set stays a DataFrame however many
    clusters overflow), one broadcast seed join over ONLY those members,
    and a checkpoint; untouched clusters pass through.
    """
    from .ann import _l2_rounded

    vh = F.md5(
        F.to_json(
            F.transform(F.col(emb_col), lambda x: F.round(x.cast("double"), 9))
        ).cast("binary")
    )
    nonzero = F.aggregate(
        F.transform(F.col(emb_col), lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    ) > 0
    w_vh = Window.partitionBy("centroid_id", "__vh").orderBy(F.col(id_col).asc())
    refined = (
        lists.withColumn("__cid", F.col("centroid_id").cast("string"))
        .withColumn("__vh", vh)
        .withColumn("__zero", ~nonzero)
        # zero vectors have undefined cosine (pairwise yields NULL), so
        # they are never exact-collapsed — parity with the join path
        .withColumn(
            "__exact_dup", (F.row_number().over(w_vh) > 1) & nonzero
        )
        .drop("__vh")
        .localCheckpoint(eager=True)
    )
    in_play = ~F.col("__exact_dup") & ~F.col("__zero")
    for _ in range(max_depth):
        oversized = (
            refined.filter(in_play)
            .groupBy("__cid")
            .count()
            .filter(F.col("count") > max_cluster)
            .select("__cid", F.lit(True).alias("__isbig"))
        )
        if oversized.count() == 0:
            return refined
        tagged = refined.join(F.broadcast(oversized), "__cid", "left")
        is_big = F.coalesce(F.col("__isbig"), F.lit(False)) & in_play
        members = tagged.filter(is_big).drop("__isbig")
        hk = F.md5(F.col(id_col).cast("string").cast("binary"))
        w_seed = Window.partitionBy("__cid").orderBy(hk.asc(), F.col(id_col).asc())
        seeds = (
            members.withColumn("__r", F.row_number().over(w_seed))
            .filter(F.col("__r") <= split_k)
            .select(
                F.col("__cid").alias("__scid"),
                F.col(id_col).alias("__sid"),
                (F.col("__r") - 1).alias("__code"),
                F.col(emb_col).alias("__se"),
            )
        )
        # ties (rounded d==0 to several seeds) resolve to the member's
        # OWN seed row first: a seed stranded at distance 0 from a
        # lower-coded seed still claims its own cell, so distinct seeds
        # are never merged and every round makes progress
        w_near = Window.partitionBy("__cid", id_col).orderBy(
            F.col("__d").asc(), F.col("__self").desc(), F.col("__code").asc()
        )
        split = (
            members.join(F.broadcast(seeds), F.col("__cid") == F.col("__scid"))
            .withColumn("__d", _l2_rounded(F.col(emb_col), F.col("__se")))
            .withColumn("__self", F.col(id_col) == F.col("__sid"))
            .withColumn("__rk", F.row_number().over(w_near))
            .filter(F.col("__rk") == 1)
            .withColumn(
                "__cid", F.concat_ws(".", "__cid", F.col("__code").cast("string"))
            )
            .drop("__scid", "__sid", "__code", "__se", "__d", "__self", "__rk")
        )
        refined = (
            tagged.filter(~is_big)
            .drop("__isbig")
            .unionByName(split)
            .localCheckpoint(eager=True)
        )
    still = (
        refined.filter(in_play)
        .groupBy("__cid")
        .count()
        .filter(F.col("count") > max_cluster)
        .count()
    )
    if still:
        raise ValueError(
            f"semdedup: {still} cluster(s) of distinct vectors did not "
            f"split below max_cluster={max_cluster} within "
            f"max_depth={max_depth} Voronoi rounds — the coarse quantizer "
            "is too small for this corpus. SemDeDup's K-scaling regime "
            "applies: grow K with the corpus (K ≈ n / target_cluster_size) "
            "so clusters stay bounded, or raise max_cluster/max_depth."
        )
    return refined


def semdedup(
    emb: DataFrame,
    cen: DataFrame,
    tau: float = 0.95,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup by k-means cluster
    + within-cluster pairwise cosine. A vector is dropped when some
    LOWER-id vector in its cluster sits at cosine >= tau (keep-first
    representative selection — deterministic, no iteration-order
    dependence). Output has one row per INPUT vector: (id, centroid_id,
    max_dup_cosine, keep); pair-free vectors keep with NULL cosine.

    Scale shape: pairwise work is sum of squared cluster sizes — the
    paper's regime grows K with the corpus so clusters stay bounded; the
    pair join shuffles on centroid_id only (never a global cross join),
    and the K-row centroid table broadcasts inside the assignment.
    Cosines use ann.dot_rounded (ordered 9dp folds), so the tau gate on
    the 6dp-rounded value is bit-stable cross-engine.

    Completes the dedup suite: exact / MinHash-LSH / SimHash /
    sign-LSH-embedding routes catch copies; this catches PARAPHRASES
    (same meaning, different tokens) the lexical routes cannot.

    ``max_cluster`` (mega-cluster guard): when set, clusters larger than
    this are refined by ``_split_mega_clusters`` before the pairwise
    join — exact-duplicate members short-circuit to (1.0, drop) without
    any join, distinct members split recursively into Voronoi cells of
    ≤ max_cluster — so Σ sz² is bounded by n·max_cluster instead of
    max_sz². Pairs that cross refined-cell boundaries are not compared
    (the same approximation the paper accepts when growing K); output
    ``centroid_id`` stays the coarse cluster either way. None (default)
    preserves exact per-coarse-cluster all-pairs semantics.
    """
    from .ann import assign_to_centroids, dot_rounded

    # materialize the assignment ONCE: it feeds both pair sides and the
    # final join-back, and its lineage embeds the whole k-means DAG —
    # without the checkpoint the dominant cost would replay up to 3x
    lists = assign_to_centroids(emb, cen, id_col, emb_col).localCheckpoint(eager=True)
    if max_cluster is not None:
        refined = _split_mega_clusters(lists, max_cluster, id_col, emb_col)
        pairside = refined.filter(~F.col("__exact_dup"))
        exact = refined.filter(F.col("__exact_dup")).select(
            F.col(id_col),
            "centroid_id",
            F.lit(1.0).alias("max_dup_cosine"),
            # same gate the join path applies: keep iff max_dup_cosine < tau
            F.lit(1.0 < tau).alias("keep"),
        )
        # zero vectors: cosine with ANYTHING is NULL (0/0), so the join
        # path can only ever produce NULL → keep for them; emit that
        # directly instead of joining a potentially huge unsplittable
        # block quadratically. max ignores NULLs, so removing their pairs
        # changes no nonzero row's aggregate — exact parity.
        zeros = refined.filter(F.col("__zero") & ~F.col("__exact_dup")).select(
            F.col(id_col),
            "centroid_id",
            F.lit(None).cast("double").alias("max_dup_cosine"),
            F.lit(True).alias("keep"),
        )
        exact = exact.unionByName(zeros)
        pairside = pairside.filter(~F.col("__zero"))
    else:
        pairside = lists.withColumn("__cid", F.col("centroid_id").cast("string"))
        exact = None
    norm = F.sqrt(dot_rounded(F.col(emb_col), F.col(emb_col)))
    a = pairside.select(
        F.col(id_col),
        "centroid_id",
        "__cid",
        F.col(emb_col).alias("__ae"),
        norm.alias("__an"),
    )
    b = pairside.select(
        F.col(id_col).alias("__bid"),
        F.col("__cid").alias("__bc"),
        F.col(emb_col).alias("__be"),
        norm.alias("__bn"),
    )
    cos = F.round(
        dot_rounded(F.col("__ae"), F.col("__be"))
        / (F.col("__an") * F.col("__bn")),
        6,
    )
    dup = (
        a.join(
            b,
            (F.col("__cid") == F.col("__bc")) & (F.col("__bid") < F.col(id_col)),
        )
        .select(F.col(id_col), cos.alias("__cos"))
        .groupBy(id_col)
        .agg(F.max("__cos").alias("max_dup_cosine"))
    )
    out = (
        pairside.select(id_col, "centroid_id")
        .join(dup, id_col, "left")
        .select(
            id_col,
            "centroid_id",
            "max_dup_cosine",
            (
                F.col("max_dup_cosine").isNull()
                | (F.col("max_dup_cosine") < F.lit(tau))
            ).alias("keep"),
        )
    )
    return out if exact is None else out.unionByName(exact)


def shared_hash_fraction(
    rows: DataFrame,
    owner_col: str,
    hash_col: str = "h",
    min_owners: int = 2,
) -> DataFrame:
    """Per-owner shared-content fraction: given (owner, hash) rows, the
    fraction of each owner's rows whose hash appears under >=
    ``min_owners`` distinct owners. The shape behind span-level
    (duplicated_span_stats) and turn-level (turn_dedup_across_convs)
    dedup signals — hash rows upstream (md5, so the shuffles carry 16
    bytes, never text), then count / join / aggregate here.

    Two shuffles (by hash, by owner) over whatever the caller hands in;
    a caller that needs within-owner distinctness (the span form)
    distincts first, which adds its own exchange."""
    freq = rows.groupBy(hash_col).agg(
        F.countDistinct(owner_col).alias("__n_owners")
    )
    shared = (F.col("__n_owners") >= min_owners).cast("long")
    return (
        rows.join(freq, hash_col)
        .groupBy(owner_col)
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(shared).alias("n_shared"),
            F.round(F.sum(shared) / F.count("*").cast("double"), 6).alias(
                "shared_frac"
            ),
        )
    )


def bloom_bit_positions(
    keys: DataFrame,
    m: int = 4096,
    k: int = 3,
    salt: str = "bl",
    id_col: str = "doc_id",
) -> DataFrame:
    """The DISTINCT set bit positions of a Bloom filter over ``keys`` —
    the compact seen-set a recrawl pipeline persists instead of the full
    key table (probe answers "definitely new" / "maybe seen"; the maybe
    side falls through to the exact route, e.g. insert_missing's anti
    join or the stored LSH index).

    Positions are md5-derived (hash i of a key = first 8 hex chars of
    md5(f"{salt}{i}#{key}") mod m), so both engines compute identical
    bits — Spark's built-in ``df.stat.bloomFilter`` is the JVM
    alternative when cross-engine determinism isn't needed. At scale the
    position set is stored as the filter's bit array (m bits, not m
    rows); this frame form keeps the algebra verifiable.
    """
    probes = _bloom_probes(keys, m, k, salt, id_col)
    return probes.select("pos").distinct()


def _bloom_probes(
    keys: DataFrame, m: int, k: int, salt: str, id_col: str
) -> DataFrame:
    """(id, pos) rows: the k hash positions of every DISTINCT key."""
    from .curation import _hash_bucket

    idx = F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__i")
    probes = keys.select(id_col).distinct().select(F.col(id_col), idx)
    # the one shared cross-engine hash idiom, with the per-hash prefix
    # 'bl{i}#' as a Column salt
    prefix = F.concat(F.lit(salt), F.col("__i").cast("string"), F.lit("#"))
    pos = F.pmod(_hash_bucket(F.col(id_col), prefix), F.lit(m))
    return probes.select(F.col(id_col), pos.alias("pos"))


def bloom_probe(
    keys: DataFrame,
    bits: DataFrame,
    m: int = 4096,
    k: int = 3,
    salt: str = "bl",
    id_col: str = "doc_id",
) -> DataFrame:
    """Membership probe: maybe_seen is true iff ALL k hash positions of
    a key are set. One row per DISTINCT key. No false negatives by
    construction (keys are deduped before probing — a duplicated input
    key must not double its hit count and fail the == k gate);
    false-positive rate ~ (1 - e^{-kn/m})^k, tuned by m. The bit set is
    bounded by m, so it BROADCASTS — the probe is ONE map-side left join
    + one groupBy(id); the probe-key table itself never shuffles twice."""
    probes = _bloom_probes(keys, m, k, salt, id_col)
    marked = F.broadcast(bits.select("pos").withColumn("__hit", F.lit(1)))
    # left join preserves every probe row (bits.pos is distinct, so at
    # most one match per row): count(__hit) == k <=> all k positions set
    return (
        probes.join(marked, "pos", "left")
        .groupBy(id_col)
        .agg((F.count("__hit") == k).alias("maybe_seen"))
    )
