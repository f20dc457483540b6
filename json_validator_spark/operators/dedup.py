"""Deduplication operators — exact and near-duplicate detection.

The large-scale-pipeline layer on top of the validation engine: at
100 TB, duplicate and near-duplicate documents are *corpus-level
violations* exactly like duplicate doc_ids (``set_checks.uniqueness_
violations``), and every operator here follows the same shuffle
discipline:

- **exact**: one hash-groupBy — map-side combine means each content hash
  ships one (hash, partial-count) row per input partition.
- **n-gram Jaccard / containment**: explode shingles → self-join on
  shingle → pair aggregation (``_posting_pair_scores``). The join key is
  the shingle, so co-occurrence is found without any all-pairs product;
  frequency capping (``max_df``) drops degenerate stop-shingles before
  they create quadratic hot keys — the skew story at scale.
- **MinHash + LSH**: per-doc signature (narrow) → band keys → groupBy
  band bucket → pairs only within buckets — the sub-quadratic scale
  path; candidates are then *verified* with true shingle Jaccard
  restricted to the candidate pairs (``_candidate_jaccard``, shared with
  incremental dedup).
- **SimHash**: 60-bit fingerprint per doc from token hashes — narrow,
  one expression; hamming-close pairs via banded prefix grouping.
- **embedding near-dup**: cosine over ``array<float>`` — delegated to
  ``operators/similarity.py`` primitives.

Two private cores carry every pair operator: ``_bucket_pairs`` is the
one hot-bucket pair join (MinHash bands, SimHash bands and the
embedding LSH tables), and ``_pair_scores`` is the one shared-shingle
tail (per-doc shingle counts on both ids → score → threshold) that both
overlap counts — the posting self-join and the candidate-restricted
join — end in.

All hashing is md5-based (``functions/text``) for DuckDB-oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from json_validator_spark.functions.text import hash_long, seq1, shingles, tokens
from json_validator_spark.session import size_shuffle_for


# ----------------------------------------------------------------------
# Exact duplicates
# ----------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-hash groups with more than one member:
    ``(text_hash, n_docs, keep_doc_id)`` — ``keep_doc_id`` is the minimum
    id (the canonical survivor a dedup pass would retain)."""
    h = F.md5(F.col(text_col))
    return (
        df.select(h.alias("text_hash"), F.col(id_col).alias("doc_id"))
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


# ----------------------------------------------------------------------
# Shingle explode + n-gram Jaccard
# ----------------------------------------------------------------------

def doc_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """``(doc_id, shingle)`` — distinct k-token shingles per doc.

    The shingle explosion feeds every near-dup pipeline's heaviest
    exchange (minhash partial-min groupBy, jaccard/containment posting
    joins), so the AQE wide start is sized to the input here —
    ``session.size_shuffle_for`` — keeping per-task rows flat as the
    corpus grows (the r4 10x-probe remedy, data-proportional form).
    The 64 KB coalesce floor is scoped HERE, not session-wide: posting
    exchanges compress ~100x, so the 1 MB default floor would coalesce
    tens of millions of rows into a handful of tasks, while validation's
    byte-dense stages need the 1 MB default (session.py A/B note)."""
    size_shuffle_for(df.sparkSession, df, min_partition_size="64k")
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(tokens(F.col(text_col)), k)).alias("shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Doc pairs with shingle-set Jaccard ≥ threshold:
    ``(doc_id_a, doc_id_b, n_common, n_a, n_b, jaccard)`` with a < b.

    Plan shape: the posting self-join of ``_posting_pair_scores``, whose
    ``max_df`` cap removes boilerplate shingles before they become the
    quadratic skew term at scale."""
    return _posting_pair_scores(
        df, text_col, id_col, k, max_df, "jaccard", _jaccard(), threshold
    )


def _jaccard() -> Column:
    """Shingle-set Jaccard of a ``_pair_scores`` row."""
    n = F.col("n_common")
    return n / (F.col("n_a") + F.col("n_b") - n).cast("double")


def _pair_scores(
    common: DataFrame, sh_a: DataFrame, sh_b: DataFrame, name: str, score: Column,
    threshold: float,
) -> DataFrame:
    """The tail every shingle-overlap operator ends in: per-doc shingle
    counts of ``sh_a`` / ``sh_b`` joined onto the ``(doc_id_a, doc_id_b,
    n_common)`` pair counts as ``n_a`` / ``n_b``, then ``score`` rounded
    to 6 as column ``name``, kept when ≥ threshold."""
    def sizes(sh: DataFrame, side: str) -> DataFrame:
        return sh.groupBy(F.col("doc_id").alias(f"doc_id_{side}")).agg(
            F.count(F.lit(1)).alias(f"n_{side}")
        )

    return (
        common.join(sizes(sh_a, "a"), "doc_id_a")
        .join(sizes(sh_b, "b"), "doc_id_b")
        .withColumn(name, F.round(score, 6))
        .filter(F.col(name) >= threshold)
    )


def _posting_pair_scores(
    df: DataFrame, text_col: str, id_col: str, k: int, max_df: int | None,
    name: str, score: Column, threshold: float,
) -> DataFrame:
    """``(doc_id_a, doc_id_b, n_common, n_a, n_b, <name>)`` with a < b
    over all doc pairs, by the posting self-join: one explode, one
    groupBy(shingle) frequency cap (shingles in more than ``max_df``
    docs dropped), one shuffle join on shingle, one pair groupBy — every
    stage partial-aggregates."""
    sh = doc_shingles(df, text_col, id_col, k)
    if max_df is not None:
        rare = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(rare, "shingle")
    common = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = _pair_scores(common, sh, sh, name, score, threshold)
    return out.select("doc_id_a", "doc_id_b", "n_common", "n_a", "n_b", name)


def _candidate_jaccard(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, threshold: float
) -> DataFrame:
    """``(doc_id_a, doc_id_b, jaccard)`` for the ``cand`` pairs whose
    postings (a side in ``sh_a``, b side in ``sh_b``) have Jaccard ≥
    threshold. The candidate frame is joined against the postings of
    each side, so no all-pairs join is built; AQE converts both joins to
    broadcasts of the (small) candidate side at runtime, so the posting
    lists are SCANNED but never shuffled."""
    common = (
        cand.select("doc_id_a", "doc_id_b")
        .join(sh_a.withColumnRenamed("doc_id", "doc_id_a"), "doc_id_a")
        .join(sh_b.withColumnRenamed("doc_id", "doc_id_b"), ["doc_id_b", "shingle"])
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = _pair_scores(common, sh_a, sh_b, "jaccard", _jaccard(), threshold)
    return out.select("doc_id_a", "doc_id_b", "jaccard")


# ----------------------------------------------------------------------
# MinHash + LSH banding
# ----------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
) -> DataFrame:
    """``(doc_id, sig array<bigint>)`` — per-doc MinHash signature.

    sig[i] = min over shingles of ``(h1 + i*h2) mod M`` where
    ``h1 = xxhash64(shingle) mod M``, ``h2 = xxhash64('km2', shingle)
    mod (M-1) + 1`` and ``M = 2^31 - 1`` — Kirsch-Mitzenmacher double
    hashing: ONE 64-bit JVM-native hash pass per shingle feeds all
    n_hashes slots via codegen integer multiply-adds (the previous
    md5-hex scheme burned ceil(n/4) full digests per shingle on the
    hottest expression of the pipeline; A/B at sf0.1 produced the
    identical verified pair set ~10% faster wall, and at 10^12-doc
    scale the hash work per shingle is constant in n_hashes). h2 is
    forced non-zero so slots stay pairwise distinct hash functions;
    31 bits per slot is ample for a min over per-doc shingle sets
    (collision prob ~n_shingles/2^31). The downstream contract is
    hash-scheme-independent: identical shingle sets get identical
    signatures, so LSH recall for exact duplicates is certain and the
    verified-pair output (the oracle surface) does not depend on the
    scheme.

    Shape: explode shingles once → 2 hash columns per shingle → ONE
    groupBy(doc_id) with n_hashes min() aggregates. The aggregation is
    deliberate: it tokenizes each document exactly once AND acts as a
    materialization barrier, so downstream banding reads the signature
    as an attribute instead of re-expanding the expression per band
    (Catalyst's projection collapse otherwise inlines a narrow sig
    expression 8x into the band array — measured 300x slower). Map-side
    partial min() means the shuffle carries one partial sig per
    (partition, doc). Docs with no shingles rejoin with empty-marker
    slots (negative, outside the hash range) so banding still works."""
    sh = doc_shingles(df, text_col, id_col, k)
    m = (1 << 31) - 1  # Mersenne prime: cheap mod, > any per-doc shingle count
    h1 = F.pmod(F.xxhash64(F.col("shingle")), F.lit(m))
    h2 = F.pmod(F.xxhash64(F.lit("km2"), F.col("shingle")), F.lit(m - 1)) + F.lit(1)
    hashed = sh.select("doc_id", h1.alias("__h1"), h2.alias("__h2"))
    sigs = hashed.groupBy("doc_id").agg(
        *[
            F.min(F.pmod(F.col("__h1") + F.lit(i) * F.col("__h2"), F.lit(m))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )
    empty_sig = F.array(*[F.lit(-(i + 1)).cast("long") for i in range(n_hashes)])
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(sigs, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("h0").isNull(), empty_sig)
            .otherwise(F.array(*[F.col(f"h{i}") for i in range(n_hashes)]))
            .alias("sig"),
        )
    )


def _banded(signatures: DataFrame, n_bands: int, rows_per_band: int) -> DataFrame:
    """``(doc_id, band_idx, band_hash)`` — one row per signature band;
    the shared banding step of the self-join (``lsh_candidate_pairs``)
    and the incremental probe (``incremental_candidate_pairs``). The
    band hash is one JVM-native ``xxhash64`` over the slot slice (a
    64-bit bucket key — no hex/string materialization in the exchange;
    band_idx is folded into the hash AND kept as a grouping column so
    identical slices in different bands can never collide)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.xxhash64(
                    F.lit(bi), F.slice(F.col("sig"), bi * rows_per_band + 1, rows_per_band)
                ).alias("band_hash"),
            )
            for bi in range(n_bands)
        ]
    )
    return signatures.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", "b.band_idx", "b.band_hash"
    )


def _bucket_pairs(
    rows: DataFrame,
    keys: list[str],
    max_bucket: int,
    id_col: str = "doc_id",
    payload: str | None = None,
) -> DataFrame:
    """The hot-bucket pair join behind every banded near-dup operator:
    ``({id_col}_a, {id_col}_b)`` for the rows of ``rows`` that share a
    ``keys`` bucket, plus ``({payload}_a, {payload}_b)`` when a payload
    column is given (the simhash, the embedding) so the caller can score
    the pair. One groupBy(keys) sizes each bucket and elects its hub (the
    min id); the join back onto the rows is co-partitioned on the same
    key.

    **Hot-bucket guard** (the 10^12-doc skew story): a viral duplicate
    cluster — one page copied 10M times — puts all its members in ONE
    bucket, and the naive self-join emits C(10M, 2) ≈ 5·10^13 pairs.
    Buckets at or under ``max_bucket`` emit every pair with a < b;
    larger buckets emit STAR-shaped pairs instead: every member paired
    with the bucket's hub only — O(|bucket|) edges that keep the
    duplicate cluster connected (dedup keeps the min-id survivor and
    drops docs reachable from it). A star pair carries the hub's payload
    on the a side; its struct ordering key makes the choice among
    duplicate ids with different payloads independent of run order."""
    cols = [id_col] if payload is None else [id_col, payload]
    hub = {id_col: "__hub", payload: "__hub_p"}
    aggs = [F.count(F.lit(1)).alias("__n"), F.min(id_col).alias("__hub")]
    if payload is not None:
        aggs.append(F.min_by(payload, F.struct(id_col, payload)).alias("__hub_p"))
    tagged = rows.join(rows.groupBy(*keys).agg(*aggs), keys)
    small = tagged.filter(F.col("__n") <= max_bucket)
    all_pairs = (
        small.alias("a")
        .join(small.alias("b"), keys)
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(*[F.col(f"{s}.{c}").alias(f"{c}_{s}") for s in "ab" for c in cols])
    )
    star_pairs = tagged.filter(
        (F.col("__n") > max_bucket) & (F.col(id_col) != F.col("__hub"))
    ).select(
        *[F.col(hub[c]).alias(f"{c}_a") for c in cols],
        *[F.col(c).alias(f"{c}_b") for c in cols],
    )
    return all_pairs.unionByName(star_pairs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Band the signature and emit ``(doc_id_a, doc_id_b, n_bands_shared)``
    for docs agreeing on ≥1 band — the classic LSH bucket join. The
    groupBy key is (band_idx, band_hash): identical-band docs co-locate,
    everything else never meets — sub-quadratic at corpus scale. Band
    buckets larger than ``max_bucket`` emit star pairs against the
    bucket's min doc_id (the hot-bucket guard of ``_bucket_pairs``)."""
    banded = _banded(signatures, n_bands, rows_per_band)
    return (
        _bucket_pairs(banded, ["band_idx", "band_hash"], max_bucket)
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH candidates verified with true shingle Jaccard — the full
    MinHash dedup pipeline: candidates from banding, exact Jaccard only
    for candidate pairs (a join against the shingle postings restricted
    to candidates, not the all-pairs join).

    Verification is ``_candidate_jaccard``: the (small) candidate-pair
    frame joined against the shingle postings of both sides. The
    tempting alternative — persist(candidates) + semi-join filter before
    re-shingling — materializes the whole signature pipeline as a
    barrier job before verification can start; measured 6s slower on the
    sf0.1 bench than this single pipelined job."""
    rows_per_band = n_hashes // n_bands
    sigs = minhash_signatures(df, text_col, id_col, k, n_hashes)
    cand = lsh_candidate_pairs(sigs, n_bands, rows_per_band, max_bucket=max_bucket)
    sh = doc_shingles(df, text_col, id_col, k)
    return _candidate_jaccard(cand, sh, sh, threshold)


# ----------------------------------------------------------------------
# Incremental dedup — a new batch probed against the existing corpus
# ----------------------------------------------------------------------

def incremental_candidate_pairs(
    new_sigs: DataFrame,
    corpus_sigs: DataFrame,
    n_bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """One-sided LSH probe: ``(new_doc_id, corpus_doc_id,
    n_bands_shared)`` for every (new batch doc, corpus doc) pair that
    agrees on ≥1 signature band.

    This is the production ingest shape the self-join cannot give you:
    when a daily increment lands against a 10^12-doc corpus, re-running
    pairwise dedup over old ∪ new re-shuffles the whole corpus. Here the
    corpus side is banded once (in production: a *stored* band index,
    written at corpus-build time and reused every increment) and the
    join is new-bands ⋈ corpus-bands on (band_idx, band_hash) — the
    shuffle is sized by the increment, not the corpus, and AQE
    broadcasts the new side outright when the increment is small.

    Hot-bucket guard, one-sided: a corpus band bucket larger than
    ``max_bucket`` (a boilerplate/viral-duplicate flood) would multiply
    every probing new doc by the full bucket; instead such buckets are
    collapsed to their min-id representative, so each new doc gains ONE
    candidate edge per hot bucket — O(increment) instead of
    O(increment × bucket). Buckets at or under the cap keep exact
    all-members semantics."""
    bn = _banded(new_sigs, n_bands, rows_per_band).withColumnRenamed(
        "doc_id", "new_doc_id"
    )
    bc = _banded(corpus_sigs, n_bands, rows_per_band)
    keys = ["band_idx", "band_hash"]
    sizes = bc.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("__n"), F.min("doc_id").alias("__min_doc")
    )
    tagged = bc.join(sizes, keys)  # co-partitioned: same key as the groupBy
    direct = bn.join(tagged.filter(F.col("__n") <= max_bucket), keys).select(
        "new_doc_id", F.col("doc_id").alias("corpus_doc_id")
    )
    hot = (
        tagged.filter(F.col("__n") > max_bucket)
        .select(*keys, F.col("__min_doc").alias("corpus_doc_id"))
        .distinct()
    )
    star = bn.join(hot, keys).select("new_doc_id", "corpus_doc_id")
    return (
        direct.unionByName(star)
        .groupBy("new_doc_id", "corpus_doc_id")
        .agg(F.count(F.lit(1)).alias("n_bands_shared"))
    )


def incremental_neardup_pairs(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """Incremental MinHash dedup end-to-end: LSH candidates from the
    one-sided probe (``incremental_candidate_pairs``), then true shingle
    Jaccard computed ONLY for candidate pairs. Returns
    ``(new_doc_id, corpus_doc_id, jaccard)`` with jaccard ≥ threshold.

    Verification is ``_candidate_jaccard`` (new side as a, corpus side
    as b): the candidate frame is joined against both posting lists, so
    neither shingle table is shuffled. In production the corpus
    signatures/postings are precomputed artifacts; here they are derived
    inline from ``corpus_df`` so the operator is self-contained."""
    rows_per_band = n_hashes // n_bands
    new_sigs = minhash_signatures(new_df, text_col, id_col, k, n_hashes)
    corpus_sigs = minhash_signatures(corpus_df, text_col, id_col, k, n_hashes)
    cand = incremental_candidate_pairs(
        new_sigs, corpus_sigs, n_bands, rows_per_band, max_bucket=max_bucket
    )
    out = _candidate_jaccard(
        cand.withColumnsRenamed({"new_doc_id": "doc_id_a", "corpus_doc_id": "doc_id_b"}),
        doc_shingles(new_df, text_col, id_col, k),
        doc_shingles(corpus_df, text_col, id_col, k),
        threshold,
    )
    return out.select(
        F.col("doc_id_a").alias("new_doc_id"),
        F.col("doc_id_b").alias("corpus_doc_id"),
        "jaccard",
    )


def accept_new_documents(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_hashes: int = 16,
    n_bands: int = 4,
    threshold: float = 0.5,
    max_bucket: int = 1000,
) -> DataFrame:
    """The ingest apply step: the subset of ``new_df`` that survives
    incremental dedup — drop every new doc that (a) near-matches ANY
    existing corpus doc (``incremental_neardup_pairs``) or (b) is the
    greater member of an intra-batch near-dup pair
    (``minhash_neardup_pairs`` over the batch alone, edge-greedy policy
    as in ``drop_near_duplicates``). All original columns pass through.

    Two anti-joins on distinct drop sets — both sized by the duplicate
    rate of the INCREMENT, broadcast-eligible in the common case. Note
    the (a)/(b) interaction is deliberately greedy: if new docs A < B
    duplicate each other and A also matches the corpus, both drop — A
    via (a), B via (b) — which is correct (their content is already
    represented in the corpus)."""
    x = incremental_neardup_pairs(
        new_df, corpus_df, text_col, id_col, k, n_hashes, n_bands, threshold,
        max_bucket,
    )
    intra = minhash_neardup_pairs(
        new_df, text_col, id_col, k, n_hashes, n_bands, threshold, max_bucket
    )
    drops = (
        x.select(F.col("new_doc_id").alias("__drop"))
        .unionByName(intra.select(F.col("doc_id_b").alias("__drop")))
        .distinct()
    )
    return new_df.join(drops, new_df[id_col] == drops["__drop"], "left_anti")


# ----------------------------------------------------------------------
# SimHash
# ----------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 md5 hex chars — positive BIGINT in Spark & DuckDB


def simhash(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit SimHash per document: ``(doc_id, simhash)``.

    Each distinct token hashes to 60 bits; bit b of the fingerprint is 1
    iff more token-hashes have bit b set than unset.

    Shape: explode distinct tokens → ONE hash per token → groupBy(doc_id)
    with 60 bit-count sums → fingerprint assembled from the aggregated
    votes. Explode+agg (not a per-row array fold) for the same reason as
    ``minhash_signatures``: 60 per-bit folds over a shared token-hash
    array would each re-evaluate the tokenization under Catalyst's
    projection collapse. Map-side partial sums keep the shuffle at one
    60-int row per (partition, doc). Docs with no tokens get simhash=0."""
    toks = (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("tok"),
        )
        .select("doc_id", hash_long(F.col("tok")).alias("h"))
    )
    votes = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))).alias(f"b{b}")
            for b in range(SIMHASH_BITS)
        ],
    )
    fp = sum(
        (
            F.when(F.col(f"b{b}") * 2 > F.col("n"), F.lit(1 << b))
            .otherwise(F.lit(0))
            .cast("long")
            for b in range(SIMHASH_BITS)
        ),
        start=F.lit(0).cast("long"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(votes, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.when(F.col("n").isNotNull(), fp), F.lit(0).cast("long")).alias(
                "simhash"
            ),
        )
    )


def simhash_neardup_pairs(
    sims: DataFrame, max_hamming: int = 3, n_bands: int = 4,
    max_bucket: int = 1000,
) -> DataFrame:
    """Pairs within ``max_hamming`` bits, found by banding the fingerprint
    into ``n_bands`` chunks (pigeonhole: any pair within ``n_bands - 1``
    differing bits shares ≥1 exact band — with hamming ≤ 3 and 4 bands,
    guaranteed recall). ``(doc_id_a, doc_id_b, hamming)``.

    Pairs come from ``_bucket_pairs`` with the fingerprint as payload: a
    band bucket larger than ``max_bucket`` (an exact-duplicate flood —
    identical fingerprints) emits O(n) star pairs against the bucket's
    min-id doc instead of C(n,2). The pigeonhole recall guarantee then
    holds through the hub (hamming(hub, member)); only member-member
    pairs both ≤ max_hamming from each other but > max_hamming from the
    hub are lost, which cannot occur for the identical-fingerprint
    floods that create oversized buckets in practice."""
    width = SIMHASH_BITS // n_bands
    mask = (1 << width) - 1
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band_idx"),
                F.shiftright(F.col("simhash"), bi * width)
                .bitwiseAND(F.lit(mask))
                .alias("band_val"),
            )
            for bi in range(n_bands)
        ]
    )
    banded = sims.select("doc_id", "simhash", F.explode(bands).alias("b")).select(
        "doc_id", "simhash", "b.band_idx", "b.band_val"
    )
    pairs = _bucket_pairs(banded, ["band_idx", "band_val"], max_bucket, payload="simhash")
    return (
        pairs.select(
            "doc_id_a",
            "doc_id_b",
            F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ----------------------------------------------------------------------
# Applying dedup decisions — produce the surviving corpus
# ----------------------------------------------------------------------

def drop_exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The apply step for exact dedup: keep ONE doc per content hash
    (the min-id canonical survivor, matching ``exact_duplicates``'
    ``keep_doc_id``), preserving every original column. One groupBy to
    elect survivors + a semi-join back — both partial-aggregated /
    hash-partitioned on the same keys; no window over the full corpus."""
    h = F.md5(F.col(text_col)).alias("__h")
    survivors = (
        df.select(h, F.col(id_col).alias("__id"))
        .groupBy("__h")
        .agg(F.min("__id").alias("__keep"))
        .select(F.col("__keep").alias("__sid"))
    )
    return df.join(
        survivors, df[id_col] == survivors["__sid"], "leftsemi"
    )


def drop_near_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The apply step for near-dup pairs (``minhash_neardup_pairs`` /
    ``simhash_neardup_pairs`` / ``lsh_neardup_pairs`` output, a < b per
    row): greedily drop every doc that appears as the GREATER member of
    a pair — the standard one-pass policy (each cluster's minimum id
    survives; banding + the hot-bucket star guard guarantee every
    cluster member has an edge to a smaller id). Anti-join on the
    distinct drop set — broadcast-eligible when the near-dup rate is
    low, hash join otherwise."""
    drops = pairs.select(F.col("doc_id_b").alias("__drop")).distinct()
    return df.join(drops, df[id_col] == drops["__drop"], "left_anti")


# ----------------------------------------------------------------------
# Connected components — transitive near-dup clusters
# ----------------------------------------------------------------------

def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_id_a",
    dst_col: str = "doc_id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Transitive closure of a near-dup pair graph: every node gets the
    MINIMUM id reachable from it as its ``component_id``.

    The pairwise apply step (``drop_near_duplicates``) is edge-greedy;
    chains A~B~C where A~C was never emitted (banding misses, or the
    hot-bucket star guard truncated) still need cluster-level election.
    This is the reference's "one verdict per document" contract
    (``JSONValidator.java:443-459``) lifted to duplicate *clusters*.

    Algorithm: min-label propagation with pointer jumping — each round
    (1) every node takes the min of its own label and its neighbors'
    labels (one join edges⋈labels + one partial-aggregated groupBy min),
    then (2) labels chase their parent's label (labels⋈labels), which
    doubles path lengths and brings convergence to O(log diameter)
    rounds instead of O(diameter) — the standard MapReduce-CC shape
    (Kiveris et al., "Connected Components in MapReduce and Beyond").

    Scale notes: the edge list is symmetrized once, repartitioned on the
    join key and persisted, so each round reuses that exchange; labels
    shuffle once per round on the node hash. Each round ends with
    ``localCheckpoint`` to cut the iterative lineage (swap for
    ``checkpoint`` + a checkpoint dir on a real cluster). Convergence is
    detected with a single count of changed labels per round — the only
    driver-side data are those scalar counts. Giant components are safe:
    the min-aggregation is map-side combined, so a viral cluster's label
    never concentrates on one task.

    Returns ``(node, component_id)`` — one row per distinct node in the
    pair graph. Docs with no near-dup edge are their own singleton
    component by definition and are not emitted (join back with a
    coalesce for the full-corpus view).
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1 (got {max_iter})")
    a, b = F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    half = pairs.select(a, b)
    edges = (
        half.union(half.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .withColumnRenamed("a", "e_node")
        .withColumnRenamed("b", "e_peer")
    )
    edges = edges.repartition("e_node").persist()

    labels = edges.select(F.col("e_node").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    ).localCheckpoint(eager=True)

    for _ in range(max_iter):
        # (1) neighbor-min: candidate label for e_peer is comp(e_node)
        prop = edges.join(labels, edges["e_node"] == labels["node"]).select(
            F.col("e_peer").alias("node"), "comp"
        )
        new = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
        )
        # (2) pointer jumping: comp <- comp's comp (left join: roots
        # point at themselves, so a miss keeps the current label)
        parents = new.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        new = (
            new.join(parents, new["comp"] == parents["p_node"], "left")
            .select("node", F.coalesce("p_comp", "comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.withColumnRenamed("comp", "old"), "node")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # Falling through with labels still moving means the returned
        # components are WRONG (clusters split across labels) — and both
        # consumers (drop_cluster_duplicates, cluster_safe_split) build
        # leakage/dedup guarantees on them. Pointer jumping converges in
        # O(log diameter) rounds, so hitting this means max_iter was set
        # far too small for the graph; fail loudly instead.
        edges.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter"
        )

    edges.unpersist()
    return labels.select("node", F.col("comp").alias("component_id"))


def drop_cluster_duplicates(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id", max_iter: int = 25
) -> DataFrame:
    """Cluster-level apply step: run ``connected_components`` over the
    pair graph and keep exactly ONE document per transitive cluster
    (the min-id canonical). Strictly stronger than the edge-greedy
    ``drop_near_duplicates`` when several min-side survivors share a
    cluster: edges (1,3), (2,3) keep {1} here but {1, 2} there (the
    edge-greedy pass only drops right-hand nodes, so 1 and 2 both
    survive despite being transitively linked through 3). Docs outside
    the pair graph
    are untouched (singleton clusters). One anti-join on the distinct
    non-canonical node set — broadcast-eligible at low dup rates."""
    comp = connected_components(pairs, max_iter=max_iter)
    drops = comp.filter(F.col("node") != F.col("component_id")).select(
        F.col("node").alias("__drop")
    )
    return df.join(drops, df[id_col] == drops["__drop"], "left_anti")


def fuzzy_key_pairs(
    df: DataFrame,
    col: str,
    min_len: int = 3,
) -> DataFrame:
    """Fuzzy-duplicate KEY detection (FastSS deletion-neighborhood join,
    Bocek et al. 2007): distinct values of ``col`` within Levenshtein
    distance 1 of each other — the record-linkage complement of
    ``set_checks.uniqueness_violations``, catching near-duplicate
    identifiers/names (one-char typos, OCR slips) that exact-match
    uniqueness can never see. ``(key_a, key_b, n_a, n_b)`` with
    ``key_a < key_b``, one row per confirmed pair.

    Shape: value-histogram groupBy (the only corpus-sized exchange) →
    per-key deletion variants (k=1 neighborhood ∪ the key itself,
    deduped per key) → hash join on the variant → exact ``levenshtein``
    verify on candidates only. Distance-≤1 completeness is the FastSS
    invariant: two strings within one edit ALWAYS share a k=1 variant.
    No hot-bucket guard needed — unlike MinHash bands, a variant's
    bucket is alphabet-bounded (≤ |Σ|·(len+1)+1 keys can produce the
    same variant), so no bucket can go quadratic by data skew alone."""
    key = F.col(col).cast("string")
    vocab = (
        df.filter(key.isNotNull() & (F.length(key) >= min_len))
        .groupBy(key.alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    deletions = F.transform(
        seq1(F.length("key")),
        lambda i: F.concat(
            F.substring(F.col("key"), F.lit(1), i - 1),
            F.substring(F.col("key"), i + 1, F.length("key")),
        ),
    )
    vars_df = vocab.select(
        "key", "n",
        F.explode(
            F.array_distinct(F.concat(deletions, F.array(F.col("key"))))
        ).alias("var"),
    )
    a = vars_df.select(
        F.col("key").alias("key_a"), F.col("n").alias("n_a"), "var"
    )
    b = vars_df.select(
        F.col("key").alias("key_b"), F.col("n").alias("n_b"), "var"
    )
    cand = (
        a.join(b, "var")
        .filter(F.col("key_a") < F.col("key_b"))
        .select("key_a", "key_b", "n_a", "n_b")
        .distinct()
    )
    return cand.filter(F.levenshtein("key_a", "key_b") <= 1)


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 1000,
) -> DataFrame:
    """Doc pairs by shingle-set CONTAINMENT (Broder): ``n_common /
    min(n_a, n_b)`` — the asymmetric near-dup measure Jaccard misses:
    a short document quoted verbatim inside a long one scores
    containment ≈ 1 while Jaccard stays near |short| / |long| ≈ 0.
    ``(doc_id_a, doc_id_b, n_common, n_a, n_b, containment)`` with
    a < b, containment ≥ threshold, rounded to 6.

    Plan shape (and skew discipline): the posting self-join of
    ``_posting_pair_scores``, shared with ``ngram_jaccard_pairs``."""
    return _posting_pair_scores(
        df, text_col, id_col, k, max_df, "containment",
        F.col("n_common") / F.least("n_a", "n_b").cast("double"), threshold,
    )
