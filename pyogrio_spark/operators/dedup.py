"""Deduplication suite for large-scale document corpora.

Beyond the reference's operator set (pyogrio has no dedup; SURVEY.md
§2.3 lists set ops as pipeline plumbing), these are the operators a
training-data pipeline needs at 10^12 docs. Design rule: signatures are
computed with *built-in* higher-order functions (transform / aggregate /
array_min on the tokens array) so everything before the candidate join
stays in whole-stage codegen — no Python in the O(corpus) path. md5 is
the shared hash so oracles can reproduce signatures bit-for-bit in any
SQL engine.

Scale notes per operator:
- exact: one shuffle on the content hash; map-side combine built-in.
- minhash LSH: O(n) signature pass, then a groupBy on (band, band_key)
  whose fan-in is the bucket size — candidate pairs never materialize
  the n² cross join. Hot buckets (boilerplate docs) are capped by
  ``max_bucket`` pre-aggregation.
- simhash: one aggregation per doc (64 bit-votes as JVM sums), then a
  band join on 16-bit chunks (Hamming-distance blocking).
- ngram jaccard: exact verify on candidate pairs only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _hash60(col):
    """Deterministic 60-bit hash shared with SQL oracles:
    first 15 hex chars of md5 as a bigint."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(df: DataFrame, content_col: str = "text", key_col: str = "doc_id") -> DataFrame:
    """Keep the lexicographically-first doc per identical content.
    -> (doc_id, content_hash, dup_count)."""
    h = F.md5(F.col(content_col)).alias("content_hash")
    return (
        df.select(key_col, h)
        .groupBy("content_hash")
        .agg(F.min(key_col).alias(key_col), F.count("*").alias("dup_count"))
        .select(key_col, "content_hash", "dup_count")
    )


def tokens_col(text_col: str = "text"):
    return F.split(F.lower(F.col(text_col)), " ")


def shingles_col(tokens, k: int = 3):
    """word k-shingles; short docs fall back to the whole token array."""
    n = F.size(tokens)
    return F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1), lambda i: F.concat_ws(" ", F.slice(tokens, i, k))),
    ).otherwise(F.array(F.concat_ws(" ", tokens)))


def shingle_rows(df: DataFrame, key_col: str = "doc_id", text_col: str = "text", k: int = 3) -> DataFrame:
    """(key, _s) — one row per word k-shingle. Same multiset as
    ``explode(shingles_col(...))``.

    Plan (r8): zip the token array with its k-1 shifted slices
    (``arrays_zip`` of k equal-length ``slice``s — regular expressions,
    not per-element lambda HOFs) and explode, then concat each struct in
    codegen — a ZERO-shuffle map. Supersedes two earlier shapes, both
    measured: the all-HOF ``transform(sequence, i -> concat_ws(slice))``
    form paid ~8us of interpreted eval per shingle, and the r3–r7
    posexplode + window-``lead`` form was codegen but paid an
    Exchange + Sort of the whole token stream before the first shingle
    existed (1.5 s vs 0.8 s at sf1.0, and one less corpus shuffle —
    guide §2.4). Short docs (< k tokens) contribute their whole token
    string, as in ``shingles_col``."""
    toks = df.select(key_col, tokens_col(text_col).alias("_t")).withColumn("_n", F.size("_t"))
    zipped = F.arrays_zip(
        *[
            F.slice(F.col("_t"), j + 1, F.col("_n") - F.lit(k - 1)).alias(f"_s{j}")
            for j in range(k)
        ]
    )
    out = (
        toks.filter(F.col("_n") >= k)
        .select(key_col, F.explode(zipped).alias("_z"))
        .select(key_col, F.concat_ws(" ", *[F.col(f"_z._s{j}") for j in range(k)]).alias("_s"))
    )
    short = toks.filter(F.col("_n") < k).select(key_col, F.concat_ws(" ", "_t").alias("_s"))
    return out.unionByName(short)


def minhash_signature(
    df: DataFrame, text_col: str = "text", n_hashes: int = 16, shingle_k: int = 3, key_col: str = "doc_id"
) -> DataFrame:
    """Adds ``sig: array<bigint>`` of length n_hashes. Pure built-ins.

    One md5 per shingle, then the Carter-Wegman two-hash family
    h_i = a + i*b over its 128 bits (a = hex[1:15] as 60-bit int,
    b = hex[17:30] as 56-bit int — i*b stays under 2^60 so int64 never
    overflows under ANSI mode). 16x less hashing than md5-per-(i,shingle)
    and still reproducible in any SQL oracle.

    Shape: shingle_rows (codegen, see its doc) -> hash each shingle
    ONCE -> one groupBy with n_hashes min-aggregates (map-side partial
    agg, shuffle of (key, a, b) longs). The tempting all-in-one
    higher-order-function expression (array of 16
    array_min(transform(...))) inlines the whole shingle+md5 pipeline
    into every term under whole-stage codegen — measured 16x slower.
    Returns (key_col, sig).
    """
    ex = shingle_rows(df, key_col, text_col, shingle_k)
    m = F.md5(F.col("_s"))
    ab = ex.select(
        key_col,
        F.conv(F.substring(m, 1, 15), 16, 10).cast("bigint").alias("_a"),
        F.conv(F.substring(m, 17, 14), 16, 10).cast("bigint").alias("_b"),
    )
    agg = ab.groupBy(key_col).agg(
        *[F.min(F.col("_a") + F.lit(i) * F.col("_b")).alias(f"_h{i}") for i in range(n_hashes)]
    )
    return agg.select(key_col, F.array(*[F.col(f"_h{i}") for i in range(n_hashes)]).alias("sig"))


def minhash_lsh_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket: int = 64,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH, verified by signature
    similarity. -> (doc_a, doc_b, est_jaccard) with doc_a < doc_b.

    Plan (r8): cap each (band, band_key) bucket with the row_number
    window (WindowGroupLimit — spillable, partially limited map-side,
    so a boilerplate mega-bucket never materializes in memory), then
    one partition-local groupBy — it rides the cap window's exchange —
    collects the bounded member list with signatures, and candidate
    pairs explode per bucket. The r1–r7 shape additionally cached the
    signature table (the self-join would otherwise inline the
    shingle+md5 lineage into both aliases) and self-joined the capped
    buckets — a session-lingering cache, a join, and an extra
    aggregation, for the same Σ bucket² pair stream (guide §2.4). Pair
    volume is unchanged: capped buckets, never n²."""
    rows = n_hashes // bands
    sigd = minhash_signature(df.select(key_col, text_col), text_col, n_hashes, shingle_k, key_col)
    banded = sigd.select(
        key_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(F.concat_ws(",", *[F.element_at("sig", b * rows + r + 1) for r in range(rows)])).alias(
                            "band_key"
                        ),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(key_col, "sig", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))

    wcap = Window.partitionBy("band", "band_key").orderBy(key_col)
    banded = banded.withColumn("_rn", F.row_number().over(wcap)).filter(F.col("_rn") <= max_bucket).drop("_rn")
    buckets = (
        banded.groupBy("band", "band_key")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(key_col).alias("k"), F.col("sig").alias("s")))
            ).alias("_m")
        )
        .filter(F.size("_m") >= 2)
    )
    pairs = (
        buckets.select(
            F.explode(
                F.expr(
                    "flatten(transform(_m, (x, i) -> "
                    "transform(slice(_m, i + 2, size(_m)), y -> "
                    "struct(x.k AS doc_a, y.k AS doc_b, x.s AS sig_a, y.s AS sig_b))))"
                )
            ).alias("_p")
        )
        .select("_p.doc_a", "_p.doc_b", "_p.sig_a", "_p.sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(float(n_hashes))
    ).alias("est_jaccard")
    return pairs.select("doc_a", "doc_b", est).filter(F.col("est_jaccard") >= threshold)


def simhash_column(
    df: DataFrame, text_col: str = "text", key_col: str = "doc_id", n_bits: int = 64, use_md5: bool = False
) -> DataFrame:
    """SimHash per doc as bit-votes over token hashes — one explode + one
    groupBy, all JVM aggregates. -> (key_col, simhash).

    ``use_md5`` swaps xxhash64 (fast path) for the md5-based 60-bit hash
    shared with SQL oracles (then n_bits is capped at 60)."""
    if use_md5:
        n_bits = min(n_bits, 60)
        h = _hash60(F.col("tok"))
    else:
        h = F.xxhash64(F.col("tok"))
    tok = df.select(key_col, F.explode(tokens_col(text_col)).alias("tok")).withColumn("h", h)
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{b}")
        for b in range(n_bits)
    ]
    agg = tok.groupBy(key_col).agg(*votes)
    sim = None
    for b in range(n_bits):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        if b == 63:
            term = F.when(F.col(f"b{b}") > 0, F.lit(-(1 << 63)).cast("long")).otherwise(F.lit(0).cast("long"))
        else:
            term = bit * F.lit(1 << b).cast("long")
        sim = term if sim is None else sim + term
    return agg.select(key_col, sim.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text", max_hamming: int = 3, max_bucket: int = 256
) -> DataFrame:
    """Hamming-distance blocking: equal 16-bit chunk => candidate
    (any pair within hamming<=3 shares at least one of 4 chunks).
    Each (chunk, value) bucket is capped at ``max_bucket`` members —
    boilerplate corpora concentrate simhashes, and an uncapped hot
    bucket is O(bucket^2) in the self-join (same guard as the minhash
    LSH operator)."""
    sh = simhash_column(df, text_col, key_col)
    chunks = sh.select(
        key_col,
        "simhash",
        F.explode(
            F.array(*[F.struct(F.lit(c).alias("chunk"), F.shiftright("simhash", c * 16).bitwiseAND(F.lit(0xFFFF)).alias("ck")) for c in range(4)])
        ).alias("c"),
    ).select(key_col, "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"))
    w = Window.partitionBy("chunk", "ck").orderBy(key_col)
    chunks = chunks.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= max_bucket).drop("_rn")
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col(f"a.{key_col}") < F.col(f"b.{key_col}")),
        )
        .select(
            F.col(f"a.{key_col}").alias("doc_a"),
            F.col(f"b.{key_col}").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    return cand.select("doc_a", "doc_b", ham).filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.6,
    candidates: DataFrame | None = None,
    n_hashes: int = 16,
    bands: int = 4,
    max_bucket: int = 64,
) -> DataFrame:
    """Exact n-gram Jaccard, verified ONLY over LSH candidate pairs.

    The previous shape blocked on (lang, length-bucket) — a per-language
    near-cross-join, O(n_lang^2) at corpus scale. Candidates now come
    from banded MinHash LSH (same bucketed, capped plan as
    ``minhash_lsh_pairs``): candidate volume ~ sum of bucket^2 with
    bucket <= max_bucket, independent of corpus size. Any pair with true
    Jaccard >= 0.6 collides in at least one of 4 bands with probability
    ~1-(1-0.6^4)^4 ~ 0.45 per band family — at the 0.6+ operating point
    real corpora run multiple hash families; the oracle mirrors this
    exact candidate set so correctness is checked against the same
    recall contract, not all-pairs.

    Jaccard via array_intersect / array_union sizes — JVM-side set
    algebra over collect_set of the codegen ``shingle_rows`` plan.
    Pass ``candidates`` (doc_a, doc_b) to verify an external pair list.
    """
    if candidates is None:
        candidates = minhash_lsh_pairs(
            df, key_col, text_col, n_hashes=n_hashes, bands=bands,
            shingle_k=shingle_k, threshold=0.0, max_bucket=max_bucket,
        ).select("doc_a", "doc_b")
    sets = shingle_rows(df, key_col, text_col, shingle_k).groupBy(key_col).agg(
        F.collect_set("_s").alias("sh")
    )
    cand = (
        candidates.join(sets.select(F.col(key_col).alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a")
        .join(sets.select(F.col(key_col).alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    jac = (inter / union).alias("jaccard")
    return cand.select("doc_a", "doc_b", jac).filter(F.col("jaccard") >= threshold)


def winnow_fingerprints(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 16,
    use_md5: bool = False,
    unit: str = "char",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the standard rolling-hash fingerprint scheme): hash every
    character k-gram, then keep the minimum hash of each sliding window
    of ``window`` consecutive k-grams (ties -> rightmost position).
    Guarantees any shared substring of length >= window + k - 1 yields a
    shared fingerprint, while storing ~2/window of the k-gram hashes.

    Scale honesty: winnowing is O(total chars) by definition (one hash
    per character k-gram) — right for targeted overlap verification
    (plagiarism pairs, benchmark-contamination checks over candidate
    subsets), NOT for whole-corpus near-dup sweeps at 10^14 chars;
    that job belongs to ``minhash_lsh_pairs`` (O(tokens) with a
    16-aggregate reduction).

    -> (key_col, fp) distinct fingerprint rows. Plan is pure codegen:
    posexplode(sequence) -> substring -> md5-60bit -> plain BIGINT
    rolling min over (doc, position rows) -> distinct. One shuffle (the
    window by doc), map-side distinct combine. (A struct-valued window
    min — the classic way to also carry the pick's position — runs
    interpreted outside codegen and measured ~3x slower; candidate
    generation only needs the fingerprint VALUES, so the numeric form
    wins.)"""
    # xxhash64 (codegen, fast path) by default; use_md5 swaps in the
    # 60-bit md5 prefix shared with SQL oracles (~2x the hash cost,
    # measured 3.5s vs 1.7s for the hash pass over 1.45M k-grams)
    if unit == "char":
        n_grams = F.greatest(F.length(F.col(text_col)) - (k - 1), F.lit(1))
        gram = F.substring(F.col(text_col), F.col("_p"), k)
        h = _hash60(gram) if use_md5 else F.xxhash64(gram)
        grams = df.select(
            key_col, text_col, F.posexplode(F.sequence(F.lit(1), n_grams)).alias("_i", "_p")
        ).select(key_col, "_p", h.alias("_h"))
    elif unit == "token":
        # token k-grams: ~6x fewer rows than char grams on prose — the
        # whole-corpus-scale variant (guarantee becomes "any shared run
        # of window + k - 1 TOKENS shares a fingerprint"). Same codegen
        # shape as shingle_rows: posexplode + window lead.
        toks = df.select(key_col, tokens_col(text_col).alias("_t")).withColumn("_n", F.size("_t"))
        long = toks.select(key_col, "_n", F.posexplode("_t").alias("_p", "_tok"))
        wlead = Window.partitionBy(key_col).orderBy("_p")
        parts = [F.col("_tok")] + [F.lead("_tok", j).over(wlead) for j in range(1, k)]
        gram = F.concat_ws(" ", *parts)
        h = _hash60(gram) if use_md5 else F.xxhash64(gram)
        grams = (
            long.withColumn("_h", h)
            .filter((F.col("_p") <= F.col("_n") - k) | (F.col("_p") == 0))
            .select(key_col, "_p", "_h")
        )
    else:
        raise ValueError(f"unit must be char|token, got {unit!r}")
    w = Window.partitionBy(key_col).orderBy("_p").rowsBetween(0, window - 1)
    return grams.select(key_col, F.min("_h").over(w).alias("fp")).distinct()


def fingerprint_overlap_pairs(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    window: int = 16,
    min_shared: int = 2,
    max_bucket: int = 64,
    use_md5: bool = False,
) -> DataFrame:
    """Near-dup/plagiarism candidates: docs sharing >= min_shared winnow
    fingerprints. Same scale shape as the other LSH operators: bucket =
    docs sharing one fp (capped), pairs per bucket, count shared fps
    per pair. -> (doc_a, doc_b, shared_fps).

    Pair generation (r8): cap each fp bucket with the row_number
    window (WindowGroupLimit — rank-limit pushdown keeps the sort
    spillable and partially limited map-side, so a degenerate
    million-member bucket never materializes in memory), then ONE
    groupBy(fp) — partition-local, it rides the cap window's exchange —
    collects the now-bounded (<= max_bucket) member list and pairs
    explode from it. The r3–r7 shape additionally cached the
    fingerprint table, self-joined the capped buckets, and
    re-aggregated — a cache materialization that lingered for the rest
    of the session, a broadcast build, and an extra aggregation, for
    the same Σ bucket² pair stream (guide §2.4)."""
    fps = winnow_fingerprints(df, key_col, text_col, k, window, use_md5).select(key_col, "fp").distinct()
    wcap = Window.partitionBy("fp").orderBy(key_col)
    fps = fps.withColumn("_rn", F.row_number().over(wcap)).filter(F.col("_rn") <= max_bucket).drop("_rn")
    buckets = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list(key_col)).alias("_ids"))
        .filter(F.size("_ids") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(_ids, (x, i) -> "
                "transform(slice(_ids, i + 2, size(_ids)), y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("_p")
    ).select("_p.doc_a", "_p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def connected_components(
    edges: DataFrame,
    key_a: str = "doc_a",
    key_b: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over a duplicate-pair graph — the final stage
    of near-dup dedup (pairs -> clusters -> keep one doc per cluster).

    Hash-min label propagation WITH pointer-jumping: every node's label
    becomes the minimum label in its closed neighborhood, then labels
    are path-compressed one hop (comp <- comp-of-comp, valid because a
    comp is always a node id and labels only decrease). The jump makes
    label distance-to-minimum halve per round, so rounds = O(log
    diameter) instead of O(diameter) — a 10^6-long chain converges in
    ~20 rounds, not 10^6. Per round: ONE groupBy over the edge list +
    two dimension joins — no driver-side graph, edges never leave the
    cluster. Each round caches its labels and unpersists the previous
    (the kNN-loop rule: lazy chains re-run all prior rounds). Warns if
    max_iters rounds pass without reaching the fixpoint (labels would
    be usable but possibly over-split). -> (node, comp) with comp = min
    node id of the component.
    """
    sym = (
        edges.select(F.col(key_a).alias("src"), F.col(key_b).alias("dst"))
        .unionByName(edges.select(F.col(key_b).alias("src"), F.col(key_a).alias("dst")))
        .distinct()
        .cache()
    )
    labels = sym.select(F.col("src").alias("node")).distinct().withColumn("comp", F.col("node")).cache()
    labels.count()
    for _ in range(max_iters):
        # min label among neighbors, then min with own label
        nbr = (
            sym.join(labels, sym.src == labels.node)
            .select(F.col("dst").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("_nmin"))
        )
        stepped = labels.join(nbr, "node", "left").select(
            "node", F.least(F.col("comp"), F.coalesce("_nmin", F.col("comp"))).alias("comp")
        )
        # pointer jump: comp <- comp's own label (one hop of path
        # compression; comp is a node id, so the self-join always hits)
        jl = stepped.select(F.col("node").alias("_jn"), F.col("comp").alias("_jc"))
        new_labels = stepped.join(jl, stepped.comp == jl._jn, "left").select(
            "node", F.coalesce("_jc", "comp").alias("comp")
        )
        # localCheckpoint (not cache): the jump references the round's
        # plan TWICE, so without lineage truncation the logical plan
        # doubles per round — exponential plan size that OOMs plan
        # stringification around round 15. Checkpointing pins the data
        # AND resets the plan to a leaf; superseded rounds' blocks are
        # freed by the ContextCleaner when their reference drops.
        new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    else:
        import warnings

        warnings.warn(
            f"connected_components did not converge in {max_iters} rounds; "
            "component labels may be over-split (raise max_iters)",
            RuntimeWarning,
            stacklevel=2,
        )
    sym.unpersist()
    return labels


def dedup_keep_canonical(df: DataFrame, pairs: DataFrame, key_col: str = "doc_id") -> DataFrame:
    """Keep one document per near-dup cluster (the min id), plus every
    document that appears in no pair — the end-to-end dedup contract."""
    comps = connected_components(pairs)
    losers = comps.filter(F.col("node") != F.col("comp")).select(F.col("node").alias(key_col))
    # no broadcast hint: the loser set scales with the dup rate — let
    # Catalyst/AQE pick broadcast vs shuffled anti-join from its size
    return df.join(losers, key_col, "left_anti")


def line_dedup_global(
    docs: DataFrame,
    line_words: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
) -> DataFrame:
    """Corpus-global line-level exact dedup (the C4 / "Deduplicating
    Training Data" pipeline stage): every duplicate occurrence of a
    line ACROSS the whole corpus is removed except the first, then
    documents are reassembled from their surviving lines in order.
    Lines are ``line_words``-token segments (the ``line_sep``-less
    convention of ``repetition_scores`` for single-line corpora; pass
    a real separator corpus through ``chunk_documents`` semantics all
    the same). "First" is the (doc_id, line_index) order — content
    identity, never partition layout, decides the keeper.

    -> (doc_id, text, n_lines, n_kept); a document whose every line is
    a duplicate survives with empty text, so downstream length filters
    see it instead of silently losing the row.

    Scale shape (the part that matters at 100 TB):
    * segmentation reuses ``chunk_documents`` with zero overlap — a
      pure-codegen map, NO shuffle;
    * the keeper decision is a window min over the content-hash
      partitioning (r8) — ONE Exchange+Sort of the segment stream
      replaces the old groupBy + sort-merge join-back, which needed the
      same hash exchange plus an aggregate and a second sort. Hot-key
      honesty: a line duplicated N times lands in one sort partition
      either way (AQE cannot split a single key even for the join
      shape); the sort spills, and the running min is a linear scan —
      same order of work as the SMJ streaming the hot key;
    * reassembly groups by doc — shuffle #2, bounded by document size.
    Line index is packed into the keeper key as
    ``doc_id * 2^20 + line_id`` to keep the min() a plain bigint
    (documented bound: 2^20 segments per document — an 8M-word doc at
    the default width; wider corpora pass a larger ``line_words``).
    """
    from pyogrio_spark.operators.chunking import chunk_documents

    segs = chunk_documents(
        docs, chunk_tokens=line_words, overlap_tokens=0,
        text_col=text_col, id_col=id_col, sep=sep,
    ).select(
        id_col,
        F.col("chunk_id").alias("_li"),
        F.col("chunk_text").alias("_line"),
    )
    occ = (F.col(id_col) * F.lit(1 << 20) + F.col("_li")).alias("_occ")
    segs = segs.select(id_col, "_li", "_line", F.md5("_line").alias("_h"), occ)
    # keeper = min occurrence PER HASH, decided by a window min over the
    # hash partitioning instead of the old groupBy + join-back (which
    # cost the same Exchange plus a second sort, a hash aggregate, and a
    # sort-merge join of the segment stream against itself — guide §2.4:
    # two operations keyed the same way share one exchange)
    wk = Window.partitionBy("_h")
    kept = (
        segs.withColumn("_keep", F.min("_occ").over(wk))
        .filter(F.col("_occ") == F.col("_keep"))
        .drop("_h", "_occ", "_keep")
    )
    n_lines = docs.select(
        id_col,
        F.greatest(
            F.lit(1),
            F.ceil(F.size(F.split(F.col(text_col), __import__("re").escape(sep))) / F.lit(float(line_words))).cast("int"),
        ).alias("n_lines"),
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("_li", "_line"))), lambda s: s._line),
            sep,
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    return (
        n_lines.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("text"), F.lit("")).alias("text"),
            "n_lines",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
        )
    )


def span_dedup_global(
    docs: DataFrame,
    window_tokens: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = " ",
) -> DataFrame:
    """Corpus-global exact SUBSTRING dedup — the suffix-array stage of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (arXiv:2107.06499), re-shaped for Spark. Any
    ``window_tokens``-token span whose text occurs elsewhere in the
    corpus is removed except its first occurrence, at TOKEN
    granularity: partially-overlapping duplicated regions are cut
    without dropping whole lines (the coarser sibling is
    ``line_dedup_global``, which removes fixed segments).

    Rule: a token (doc, off) is removed iff some sliding
    ``window_tokens``-gram occurrence covering it is NOT its gram's
    keeper; keeper = min (doc_id, position) occurrence of that gram
    text — content order, never partition layout. Docs shorter than
    the window contribute no grams and are never cut. A fully
    duplicated document survives with empty text (same convention as
    line dedup) so length filters see it.

    Scale shape — the paper builds ONE suffix array over the corpus,
    which is inherently sequential; at a fixed match width the same
    decision is a gram stream plus a content-keyed min, all
    shuffle-bounded:
    * gram formation (r8): ``arrays_zip`` of the token array with its
      ``window_tokens - 1`` shifted slices, exploded — a ZERO-shuffle
      codegen map (the old posexplode + ``lead`` shape paid a doc-keyed
      Exchange+Sort of the token stream first);
    * keeper decision (r8): window min over the gram-hash partitioning
      — ONE Exchange+Sort replaces groupBy + sort-merge join-back
      (same hash exchange, one less sort and no join). Hot-key
      honesty: a gram duplicated N times sorts in one partition either
      way (AQE cannot split a single key even in the join shape); the
      sort spills and the running min is linear. Occurrence packed as
      ``doc_id * 2^20 + pos``, same 2^20-tokens-per-doc bound as line
      dedup; non-keeper occurrences explode to ≤ ``window_tokens``
      covered offsets each — volume bounded by actual duplication,
      not corpus size;
    * token anti-join + reassembly are doc-keyed shuffles bounded by
      document size.

    -> (doc_id, text, n_tokens, n_kept).
    """
    import re as _re

    w = int(window_tokens)
    toks = docs.select(
        id_col, F.split(F.col(text_col), _re.escape(sep)).alias("_t")
    ).withColumn("_n", F.size("_t"))
    tl = toks.select(id_col, "_n", F.posexplode("_t").alias("_p", "_tok"))
    # gram formation (r8): zip the token array with its w-1 shifted
    # slices and explode — a zero-shuffle map. The old posexplode +
    # window-``lead`` shape paid an Exchange + Sort of the token stream
    # just to see the next w-1 tokens that were already adjacent in the
    # source array (guide §2.4). All w slices have length n-w+1, so the
    # zip needs no null padding and positions 0..n-w come out exactly.
    zipped = F.arrays_zip(
        *[
            F.slice(F.col("_t"), j + 1, F.col("_n") - F.lit(w - 1)).alias(f"_g{j}")
            for j in range(w)
        ]
    )
    grams = (
        toks.filter(F.col("_n") >= w)
        .select(id_col, F.posexplode(zipped).alias("_p", "_z"))
        .select(
            id_col,
            "_p",
            F.md5(F.concat_ws(sep, *[F.col(f"_z._g{j}") for j in range(w)])).alias("_h"),
            (F.col(id_col) * F.lit(1 << 20) + F.col("_p")).alias("_occ"),
        )
    )
    # keeper = min occurrence per gram hash via a window min (one
    # Exchange+Sort on _h) instead of groupBy + join-back (same
    # Exchange plus an aggregate and a sort-merge self-join)
    wk = Window.partitionBy("_h")
    covered = (
        grams.withColumn("_keep", F.min("_occ").over(wk))
        .filter(F.col("_occ") != F.col("_keep"))
        .select(
            id_col,
            F.explode(F.sequence(F.col("_p"), F.col("_p") + F.lit(w - 1))).alias("_p"),
        )
        .distinct()
    )
    kept = tl.join(covered, on=[id_col, "_p"], how="left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("_p", "_tok"))), lambda s: s._tok),
            sep,
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    nt = toks.select(id_col, F.col("_n").cast("bigint").alias("n_tokens"))
    return nt.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        "n_tokens",
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias("n_kept"),
    )
