"""Deduplication suite for web-scale training-data pipelines.

Exact (hash groupBy), near-dup fingerprint, n-gram Jaccard, MinHash+LSH,
SimHash, and embedding-cosine near-dup. Everything runs as DataFrame ops:
hashing is JVM-side (xxhash64 / sha2); candidate generation is always a
*bucketed equi-join* (LSH band / simhash band / shingle inverted index),
never an n² cross join — the property that keeps these viable at 10^9 docs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from datavec_spark.cache import track
from datavec_spark.functions.text import char_shingles, fingerprint, word_shingles
from datavec_spark.parallel import ensure_parallelism


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dup groups: (content sha256, group size, member ids, keeper).
    One shuffle on the hash; map-side partial agg."""
    h = F.sha2(F.col(text_col), 256).alias("content_sha")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_sha")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .where(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id doc per identical content (deterministic)."""
    w = Window.partitionBy(F.sha2(F.col(text_col), 256)).orderBy(F.col(id_col))
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def near_dup_fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Normalized-content fingerprint groups (catches whitespace/punct-only
    variants that exact hashing misses)."""
    return (
        df.select(fingerprint(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(id_col).alias("keep_id"),
            F.sort_array(F.collect_list(id_col)).alias("member_ids"),
        )
        .where(F.col("n_docs") > 1)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    use_words: bool = True,
    n_docs: int | None = None,
) -> DataFrame:
    """Candidate pairs with exact n-gram Jaccard ≥ threshold.

    Inverted-index join: (id, shingle) self-join on shingle gives
    |A∩B| per pair; |A∪B| = |A|+|B|−|A∩B|. The join key is the shingle —
    a common-shingle hot key can fan out, so extremely frequent shingles
    (stop-shingles) are dropped via a document-frequency cap, the standard
    trick that bounds the blowup at corpus scale. The Jaccard reported is
    over the *capped* shingle universe — numerator AND denominator both use
    the filtered sets, so the cap narrows the universe consistently rather
    than deflating the score (dropping a universally-shared shingle cannot
    turn a true near-dup into a miss)."""
    # hashed=True: the inverted-index key is xxhash64(shingle), not the
    # shingle text (guide §2.3: shuffle keys/metadata, not payloads) — the
    # distinct, the df-cap aggregation and the self-join build side all
    # carry an 8-byte long instead of a k-word string. Jaccard is computed
    # over the same sets (collision contract documented on char_shingles).
    sh = (word_shingles if use_words else char_shingles)(
        df, text_col, id_col, k, hashed=True)
    sh = track(sh.persist())
    # stop-shingle cap: drop shingles present in >1% of docs (min 100).
    # n_docs = EXACT count of shingle-bearing docs. Exact, not
    # approx_count_distinct: the cap value is re-derived exactly by
    # oracles/pipelines outside Spark, and an HLL estimate would silently
    # shift which boundary shingles survive once the corpus grows past the
    # min-100 floor (round-4 advice item #1). The population is "docs with
    # ≥1 shingle" on BOTH sides.
    if n_docs is None:
        # count the BASE table under the same eligibility predicate the
        # shingle op applies — every eligible doc yields ≥1 shingle, so
        # this equals countDistinct(id) over the shingle relation, without
        # scanning/exploding it (the pre-r7 form counted the shingle
        # relation itself). A small driver job, deliberately: folding the
        # count into the main job as a broadcast 1-row aggregate was
        # A/B-measured 1.5–12 s slower and jittery at a 100k-doc corpus
        # (the broadcast subquery stage races the persisted shingle
        # relation's materialization); the literal cap keeps the main job
        # a stable single shape at every scale.
        from datavec_spark.functions.text import tokens

        elig = (F.size(tokens(F.lower(F.col(text_col)))) >= k) if use_words \
            else (F.length(F.col(text_col)) >= k)
        n_docs = df.where(elig).agg(
            F.count_distinct(F.col(id_col)).alias("_nd")).first()["_nd"]
    cap = max(int(n_docs * 0.01), 100)
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    rare = dfreq.where(F.col("df") <= cap)
    sh_f = track(sh.join(rare.select("shingle"), "shingle").persist())
    sizes = sh_f.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))

    a = sh_f.alias("a")
    b = sh_f.alias("b")
    inter = (
        a.join(b, (F.col(f"a.shingle") == F.col(f"b.shingle"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard", F.round(F.col("inter") /
                    (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 5, num_hashes: int = 64,
) -> DataFrame:
    """MinHash signatures: per doc, min over shingles of xxhash64(shingle, seed_i)
    for num_hashes seeds — explode + one groupBy(id) shuffle, all JVM-side.

    Shape note (r7): a zero-shuffle per-row formulation (shingle set as an
    in-row array, array_min over a transform) was built and A/B-measured;
    it only won when the scan planned as a single task. With the scan-
    parallelism floor in char_shingles the codegen'd explode + partial-agg
    form is ~2.6× faster at a 100k-doc corpus (interpreted HOF evaluation
    loses to whole-stage codegen), so the explode form stays. Values are
    identical either way (pinned in tests/test_functions.py)."""
    sh = char_shingles(df, text_col, id_col, k)
    mins = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}") for i in range(num_hashes)]
    return sh.groupBy(id_col).agg(*mins)


def _cap_buckets(buckets: DataFrame, bucket_cap: int | None,
                 keys: tuple[str, ...] = ("band", "bh")) -> DataFrame:
    """Drop LSH buckets with more than `bucket_cap` members — the bucket-level
    analogue of the stop-shingle document-frequency cap. A degenerate corpus
    (boilerplate-heavy: one band hash collecting 10^6 docs) otherwise yields
    |bucket|² candidate pairs from a single bucket; docs in an over-full
    bucket almost always share *other*, smaller buckets through their
    remaining bands, so recall loss is confined to the pathological mass.

    Implemented as a window count over the bucket key — ONE shuffle on the
    key the candidate self-join needs anyway, instead of the earlier
    aggregate-then-equi-join (two shuffles + a join; the round-2 bench
    regression on minhash_lsh)."""
    if bucket_cap is None:
        return buckets
    w = Window.partitionBy(*[F.col(k) for k in keys])
    return (
        buckets.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .where(F.col("_bsz") <= bucket_cap)
        .drop("_bsz")
    )


def lsh_pairs_from_minhash(
    sig: DataFrame, id_col: str = "doc_id",
    num_hashes: int = 64, bands: int = 16,
    threshold: float = 0.7, verify: bool = True,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Banded-LSH pair generation over an ALREADY-COMPUTED minhash signature
    DataFrame (columns: id_col, h0..h{num_hashes-1}) — the banding / bucket
    join / signature-Jaccard verify half of minhash_lsh_pairs, split out so
    signatures can be materialized to parquet once and candidate logic can be
    (a) re-run without re-shingling and (b) independently re-derived by a SQL
    oracle from the same materialized signatures (band slicing, bucket join,
    and position-equality estimate are all engine-agnostic; only the raw
    xxhash64 signature values are Spark-specific)."""
    rows_per_band = num_hashes // bands
    sig = track(sig.persist())
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bh")))
    buckets = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bb")) \
                 .select(id_col, "bb.band", "bb.bh")
    buckets = _cap_buckets(buckets, bucket_cap)
    a, b_ = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b_, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    if not verify:
        return cand
    # exact signature-Jaccard estimate on candidates (cheap: join sigs back)
    sa = sig.select(F.col(id_col).alias("id_a"), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig_b"))
    est = F.size(F.filter(F.zip_with(F.col("sig_a"), F.col("sig_b"),
                                     lambda x, y: x == y), lambda v: v)) / F.lit(num_hashes)
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .withColumn("est_jaccard", F.round(est, 4))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 5, num_hashes: int = 64, bands: int = 16,
    threshold: float = 0.7, verify: bool = True,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs.

    shingle → minhash → band (rows/band hashes concatenated) → bucket join
    on (band_id, band_hash) → candidate pairs → optional exact-Jaccard
    verify. Candidate generation cost is Σ_bucket |bucket|², bounded by the
    band hash AND by `bucket_cap` (buckets above the cap are dropped — see
    _cap_buckets); the join is a plain shuffled equi-join that scales out."""
    sig = minhash_signatures(df, text_col, id_col, k, num_hashes)
    return lsh_pairs_from_minhash(sig, id_col, num_hashes, bands, threshold,
                                  verify, bucket_cap)


def near_dup_pairs_scalable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    k: int = 5, num_hashes: int = 64, bands: int = 16, threshold: float = 0.8,
) -> DataFrame:
    """The corpus-scale near-dup path: MinHash+LSH generates candidates
    (cost ∝ Σ_bucket |bucket|², sub-quadratic), then EXACT character-k-gram
    Jaccard is computed only for candidates by joining their shingle sets.
    Versus ngram_jaccard_pairs (full inverted-index self-join) this bounds
    the pair explosion at 10^9 docs while returning true Jaccard values.

    LSH recall caveat: a pair is considered only if at least one band
    matches — with (num_hashes, bands)=(64,16) the s-curve puts ~50%
    candidate probability near s≈0.5 and >99.9% at s≥0.8; choose bands
    for the target threshold."""
    cand = minhash_lsh_pairs(df, text_col, id_col, k=k, num_hashes=num_hashes,
                             bands=bands, verify=False)
    # 8-byte hashed shingle key for the verify joins (same rationale and
    # 64-bit collision contract as ngram_jaccard_pairs)
    sh = track(char_shingles(df, text_col, id_col, k, hashed=True).persist())
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cand.join(sa, "id_a").join(sb, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(za, "id_a").join(zb, "id_b")
        .withColumn("jaccard", F.round(F.col("inter") /
                    (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def connected_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph → (doc_id, component)
    where component = min doc_id reachable (the canonical "keeper" id).

    A dedup pipeline needs this step after pair generation: near-dup is not
    transitive pairwise, but dedup policy usually IS applied per connected
    group (keep one doc per component). Algorithm: min-label propagation
    with POINTER DOUBLING — each round takes
    label(v) := min(label(v), min label of neighbors, label(label(v))),
    the label-of-label shortcut halving the remaining distance to the
    component minimum, so convergence is O(log diameter) rounds (round 3's
    plain propagation was O(diameter) — a chain deeper than max_iter could
    exhaust the loop). Each round is two shuffled joins + one groupBy — no
    driver data beyond a single changed-count per round, so the op scales
    out. Per-round localCheckpoint truncates lineage (an iterated plan
    otherwise grows until plan compilation itself OOMs); on a real cluster
    with executor loss, swap for reliable checkpoint(dir)."""
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("src").alias("node")).distinct() \
                  .withColumn("label", F.col("node")) \
                  .localCheckpoint(eager=True)
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src").agg(F.min("label").alias("nmin"))
        )
        # pointer doubling: label(label(v)) — labels maps every seen node,
        # and every label IS a node id, so the self-join always resolves
        lol = (
            labels.alias("x")
            .join(labels.alias("y"), F.col("x.label") == F.col("y.node"))
            .select(F.col("x.node").alias("node"), F.col("y.label").alias("lol"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .join(lol, "node", "left")
            .select("node", F.least(
                F.col("label"),
                F.coalesce("nmin", F.col("label")),
                F.coalesce("lol", F.col("label")),
            ).alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            labels.alias("o").join(new_labels.alias("n"), "node")
            .where(F.col("o.label") != F.col("n.label")).limit(1).count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        # a component with diameter requiring > max_iter doubling rounds
        # would otherwise yield split labels with NO signal, and
        # dedup_keepers would silently keep multiple docs from one true
        # component — fail loudly instead
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            "rounds (a component needs more doubling rounds); raise max_iter"
        )
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


def dedup_keepers(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
    id_a: str = "id_a", id_b: str = "id_b",
) -> DataFrame:
    """Drop near-duplicates: keep each doc that is its component's minimum
    id (the keeper), plus every doc not in any pair. One anti-join against
    the non-keeper set."""
    comp = connected_components(pairs, id_a, id_b)
    losers = comp.where(F.col("doc_id") != F.col("component")).select("doc_id")
    return df.join(losers.withColumnRenamed("doc_id", id_col), id_col, "left_anti")


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 64) -> DataFrame:
    """64-bit SimHash over word tokens: per bit, sign of Σ±1 across token
    hashes. Expressed as exploded token rows + one groupBy — no Python."""
    from datavec_spark.functions.text import tokens

    # per-row-heavy (64 bit-extractions per token in the map-side partial
    # agg): floor the scan parallelism first (datavec_spark.parallel)
    toks = ensure_parallelism(df, id_col) \
        .select(F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"))
    h = F.xxhash64(F.col("tok"))
    aggs = []
    for i in range(bits):
        bit = F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{i}"))
    sums = toks.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig.bitwiseOR(F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long")))
    return sums.select(F.col(id_col), sig.alias("simhash"))


def simhash_pairs_from_signatures(
    sig: DataFrame, id_col: str = "doc_id",
    max_hamming: int = 3, bands: int = 4,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Banded pair generation over an ALREADY-COMPUTED simhash signature
    DataFrame (columns: id_col, simhash) — split out of
    simhash_near_dup_pairs so signatures can be materialized once and the
    band/bucket/popcount logic re-derived by a SQL oracle from the same
    parquet (bit slicing, bucket join, and bit_count(xor) are all
    engine-agnostic; only the raw xxhash64 token hashes are Spark-specific)."""
    sig = track(sig.persist())
    width = 64 // bands
    mask = (1 << width) - 1
    band_structs = [
        F.struct(F.lit(b).alias("band"),
                 F.shiftrightunsigned(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("bh"))
        for b in range(bands)
    ]
    buckets = sig.select(F.col(id_col), F.col("simhash"),
                         F.explode(F.array(*band_structs)).alias("bb")) \
                 .select(id_col, "simhash", "bb.band", "bb.bh")
    buckets = _cap_buckets(buckets, bucket_cap)
    a, b_ = buckets.alias("a"), buckets.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    hamming = F.bit_count(xor)
    return (
        a.join(b_, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"),
                hamming.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def simhash_near_dup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
    max_hamming: int = 3, bands: int = 4,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """SimHash near-dups: band the 64-bit signature into `bands` chunks —
    any pair within hamming distance < bands shares ≥1 exact band
    (pigeonhole) → bucket join per band, then exact popcount verify.
    Buckets above `bucket_cap` members are dropped (see _cap_buckets)."""
    sig = simhash(df, text_col, id_col)
    return simhash_pairs_from_signatures(sig, id_col, max_hamming, bands, bucket_cap)


def embedding_near_dup_pairs(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
    threshold: float = 0.95, planes: int | None = 12, seed: int = 42,
    bucket_cap: int | None = 100_000,
) -> DataFrame:
    """Embedding-cosine near-dups via random-hyperplane LSH buckets, exact
    cosine verify inside buckets. Hyperplanes are deterministic from seed;
    the dot products are native array expressions (JVM).

    Scale guards (a fixed 12-plane signature = 4,096 buckets regardless of
    corpus size — at 10^9 vectors that is ~250k members/bucket and a
    quadratic verify):
    - `planes=None` auto-scales the signature width with the corpus:
      ceil(log2(n)) + 8 planes keeps the EXPECTED bucket occupancy ~1/256
      of the corpus-per-bucket count a fixed width would give.
    - `bucket_cap` drops degenerate sign-buckets outright (same policy as
      the minhash/simhash paths — see _cap_buckets), so even an adversarial
      corpus of near-identical vectors cannot go quadratic in one bucket."""
    import math

    import numpy as np

    first = df.select(F.size(F.col(vec_col)).alias("d")).first()
    dim = first["d"]
    if planes is None:
        n_docs = df.count()
        planes = min(62, int(math.ceil(math.log2(max(n_docs, 2)))) + 8)
    rng = np.random.RandomState(seed)
    hyper = rng.randn(planes, dim)

    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))
    sig = F.lit(0).cast("long")
    for p in range(planes):
        plane = F.array(*[F.lit(float(x)) for x in hyper[p]])
        dot = F.aggregate(F.zip_with(v, plane, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
        sig = sig.bitwiseOR(F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long")))
    # `planes` hyperplane dot products per row: floor the scan parallelism
    # (datavec_spark.parallel) before the heavy projection
    base = ensure_parallelism(df, id_col) \
        .select(F.col(id_col), v.alias("_v"), norm.alias("_n"), sig.alias("_sig"))
    base = _cap_buckets(base, bucket_cap, keys=("_sig",))
    a, b_ = base.alias("a"), base.alias("b")
    dot_ab = F.aggregate(F.zip_with(F.col("a._v"), F.col("b._v"), lambda x, y: x * y),
                         F.lit(0.0), lambda s, x: s + x)
    cos = dot_ab / (F.col("a._n") * F.col("b._n"))
    return (
        a.join(b_, (F.col("a._sig") == F.col("b._sig"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .withColumn("cosine", F.round(cos, 6))
        .where(F.col("cosine") >= threshold)
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"), "cosine")
    )


def contamination_hits(
    df: DataFrame, benchmark: DataFrame,
    text_col: str = "text", id_col: str = "doc_id", n: int = 8,
) -> DataFrame:
    """Benchmark-contamination detection (the train/test overlap rule of the
    public GPT-3 appendix C / Gopher §A.3 methodology, word-n-gram form):
    a training document is contaminated iff it shares at least one word
    n-gram with the held-out benchmark corpus. Returns (id_col,
    n_hit_grams) — the count of DISTINCT benchmark n-grams each document
    contains; decontaminate() anti-joins this.

    Scale shape: the benchmark side is tiny next to the corpus (MBs of eval
    sets vs TBs of training text), so its distinct n-gram set is BROADCAST
    — the corpus side is a narrow explode → broadcast-semi-join → keyed
    count; the corpus is never shuffled on text, only the (id, hit) rows
    reach the aggregation. At 10^9 docs swap the join key for
    xxhash64(shingle) to shrink the broadcast; the string key is kept here
    so a SQL oracle can re-derive hits exactly (no hash-collision
    ambiguity).

    Reference parity: DataVec has no decontamination op — this extends the
    dedup family (SURVEY §2 training-pipeline additions)."""
    bench_grams = (
        word_shingles(benchmark, text_col, id_col, n)
        .select("shingle").distinct()
    )
    doc_grams = word_shingles(df, text_col, id_col, n)
    return (
        doc_grams.join(F.broadcast(bench_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit_grams"))
    )


def decontaminate(
    df: DataFrame, benchmark: DataFrame,
    text_col: str = "text", id_col: str = "doc_id", n: int = 8,
) -> DataFrame:
    """Drop every document sharing a word n-gram with the benchmark corpus
    (see contamination_hits). One broadcast semi-join + one anti-join —
    the corpus streams through untouched except for dropped rows."""
    hits = contamination_hits(df, benchmark, text_col, id_col, n)
    return df.join(hits.select(id_col), id_col, "left_anti")
