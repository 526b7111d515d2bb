"""Deduplication operators for training-data pipelines (SURVEY.md §2.D).

Five tiers, all shuffle-bounded for the 100 TB posture:

- exact: content-hash groupBy — one shuffle keyed by a 128-bit digest;
- MinHash + LSH: shingle → k minhashes → b bands → bucket equi-join.
  Candidate generation never compares all pairs: only documents sharing a
  band bucket meet, and hot buckets are capped;
- SimHash: 48-bit signature via per-bit majority vote, banded the same way;
- n-gram Jaccard: inverted shingle index → pair counts → exact Jaccard on
  candidate pairs (document-frequency-capped to bound the index);
- embedding cosine: see llmops.similarity (dedup_embedding key).

Everything is built-in expressions (xxhash64, explode, groupBy) — no Python
in the hot path.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dynamic_spark_spark.registry import query
from dynamic_spark_spark.session import positive_int_env
from dynamic_spark_spark.sources.readers import load_table, rebalance_for_fanout

#: minhash permutations and LSH banding (b bands × r rows = k hashes).
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4
SHINGLE_N = 5  # character shingles
#: drop shingles appearing in more docs than this — stopword shingles create
#: quadratic hot buckets at scale (the cap keeps candidate counts linear).
MAX_SHINGLE_DF = 100


#: salt fan-out for the skew-bounded posting-list cascade (env-tunable for
#: cluster deployments; the per-buffer bound below scales as 1/salts). A
#: value below 1 falls back to 64: 0 would make ``pmod(..., 0)`` NULL,
#: which silently drops the skew bound.
POSTING_SALTS = positive_int_env("DSS_POSTING_SALTS", 64)


def _posting_partials(exploded: DataFrame, key: str, cap: int) -> DataFrame:
    """Level 1 of the skew-bounded posting-list cascade (see
    :func:`_bounded_posting_lists`): per ``(key, salt(doc_id))`` bucket, the
    exact distinct doc count and a ``cap + 1``-truncated id list. Split out
    so the bounded-state invariant (no row wider than ``cap + 1`` ids, at
    most ``POSTING_SALTS`` rows per key — whatever the key's df) is
    independently testable."""
    salt = F.pmod(F.xxhash64("doc_id"), F.lit(POSTING_SALTS))
    return (
        exploded.groupBy(key, salt.alias("_salt"))
        .agg(F.collect_set("doc_id").alias("_pids"))
        .select(
            key,
            F.size("_pids").alias("_cnt"),
            F.slice("_pids", 1, cap + 1).alias("_pids"),
        )
    )


def _bounded_posting_lists(exploded: DataFrame, key: str, cap: int) -> DataFrame:
    """One-pass, skew-bounded, df-capped inverted index:
    ``(doc_id, key)`` stream → ``(key, ids)`` with ``ids`` the sorted distinct
    doc_id posting list, emitted only for keys with df <= ``cap``.

    A single ``groupBy(key).agg(collect_set(doc_id))`` builds the FULL posting
    list for every key before the df filter drops hot keys — a stopword
    gram with df in the millions accumulates an unbounded array in one
    aggregation buffer (executor OOM on exactly the hottest keys at corpus
    scale). This cascade keeps the single corpus pass but bounds the state:

    - **Level 1** groups by ``(key, salt(doc_id))``: no merge buffer ever
      holds more than ~df/POSTING_SALTS ids, whatever df is. Duplicate
      ``(doc_id, key)`` rows share the salt (it hashes doc_id), so the
      partial ``collect_set`` still dedups exactly and the partial sizes sum
      to the true distinct df. Each partial emits that exact count plus its
      id list truncated to ``cap + 1`` entries.
    - **Level 2** merges per key: ``df = sum(partial counts)`` (exact), and
      the posting list is the flattened partials — at most
      ``POSTING_SALTS * (cap + 1)`` entries per buffer REGARDLESS of df.
      Truncation is lossless for survivors: df <= cap implies every partial
      held <= cap ids, so nothing was cut; hot keys arrive truncated but are
      dropped by the df filter anyway.

    Cost vs the unbounded one-pass form: one extra Exchange carrying the
    level-1 partials (≈ the gram stream's bytes, map-side combined).
    """
    return (
        _posting_partials(exploded, key, cap)
        .groupBy(key)
        .agg(
            F.sum("_cnt").alias("_df"),
            F.flatten(F.collect_list("_pids")).alias("_ids"),
        )
        .where(F.col("_df") <= cap)
        .select(key, F.array_sort("_ids").alias("ids"))
    )


def _normalized(df: DataFrame) -> DataFrame:
    """Normalize + rebalance. The rebalance matters: a compact source file
    arrives in few input splits, but shingle explode fans each row out ~300×,
    so the pre-explode row count must be spread across the cluster first —
    otherwise one task owns the whole fan-out. Conditional: a scan that
    already has session-width splits (any real corpus) skips the shuffle."""
    df = rebalance_for_fanout(df)
    return df.withColumn("norm_text", F.lower(F.trim(F.col("text"))))


def _shingles(df: DataFrame, *, distinct: bool = True) -> DataFrame:
    """doc_id → hashed character shingles (JVM-side, no UDF).

    ``distinct=True`` gives set semantics (required for Jaccard counting) at
    the cost of a shuffle over the full shingle stream. MinHash skips it:
    MIN over a multiset equals MIN over its set, so the distinct shuffle is
    pure waste there.
    """
    n = SHINGLE_N
    out = (
        _normalized(df)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.length("norm_text") - (n - 1), F.lit(1))),
                    lambda i: F.col("norm_text").substr(i, F.lit(n)),
                )
            ).alias("shingle"),
        )
        .where(F.length("shingle") == n)
        .select("doc_id", F.xxhash64("shingle").alias("sh"))
    )
    return out.distinct() if distinct else out


@query(
    "dedup_exact",
    "SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies"
    " FROM documents GROUP BY md5(lower(trim(text)))",
    tag="llm-dedup",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on normalized content hash: keep the lowest doc_id per
    digest. One hash-shuffle over a 128-bit key; at 100 TB the digest (not the
    text) is the shuffle payload."""
    # no fan-out here, so no rebalance: one hash-shuffle is the whole cost
    d = load_table(spark, sf_dir, "documents").withColumn(
        "norm_text", F.lower(F.trim(F.col("text")))
    )
    return (
        d.groupBy(F.md5("norm_text").alias("digest"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .drop("digest")
    )


def minhash_signatures(docs: DataFrame, k: int = MINHASH_K) -> DataFrame:
    """doc_id → k minhash values: min over shingles of k seeded xxhash64s.

    Entirely per-row — the shingle set of a document is a local array, so
    MIN over it is ``array_min(transform(...))`` inside whole-stage codegen:
    **zero shuffles and zero row fan-out** at any scale (the explode →
    groupBy formulation shuffles |doc|×|shingles| rows to reassemble what was
    never apart). Embarrassingly parallel over document partitions; the only
    shuffle left in the whole MinHash-LSH pipeline is the band-bucket join.
    """
    n = SHINGLE_N
    shs = F.transform(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("norm_text") - (n - 1), F.lit(1))),
                lambda i: F.col("norm_text").substr(i, F.lit(n)),
            ),
            lambda s: F.length(s) == n,
        ),
        lambda s: F.xxhash64(s),
    )
    d = _normalized(docs).withColumn("shs", shs)
    mins = [
        F.array_min(F.transform("shs", lambda s: F.xxhash64(s, F.lit(i)))).alias(f"mh{i}")
        for i in range(k)
    ]
    return d.select("doc_id", *mins)


def lsh_candidate_pairs(
    sig: DataFrame,
    bands: int = LSH_BANDS,
    rows: int = LSH_ROWS,
    *,
    pairs: str = "star",
) -> DataFrame:
    """Band the signature matrix and group colliding documents per (band,
    bucket). Documents agreeing on all ``rows`` minhashes of any band collide.

    ``pairs='star'`` (default, the scale path): each bucket emits
    (bucket-min doc, member) — **linear** in bucket size. Duplicate groups
    stay connected (same connected components as all-pairs within a bucket),
    which is what dedup consumes; a corpus with large true-duplicate groups
    otherwise pays Σ|bucket|² — quadratic in group size, the classic LSH
    blow-up. ``pairs='all'`` emits every in-bucket pair for workloads that
    verify each candidate edge independently (e.g. exact-Jaccard filtering).
    """
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)], F.lit(b)).alias(
            f"band{b}"
        )
        for b in range(bands)
    ]
    banded = sig.select("doc_id", *band_cols)
    buckets = banded.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), F.col(f"band{b}").alias("bucket"))
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    # One shuffle keyed by (band, bucket) and the signature pipeline
    # evaluates ONCE — a bucket self-join would re-run it for each side and
    # shuffle twice.
    if pairs == "star":
        # Star pairs via a bucket-min WINDOW, not collect_set arrays: the
        # pair set is identical ((bucket-min, member) for every other
        # member), but WindowExec's sort-based row buffer SPILLS — a mega
        # bucket (near-empty/boilerplate docs collide on every band at
        # corpus scale) streams through disk instead of growing one
        # in-memory array in a single aggregation buffer.
        from pyspark.sql import Window

        w = Window.partitionBy("band", "bucket")
        return (
            buckets.withColumn("m", F.min("doc_id").over(w))
            .where(F.col("doc_id") != F.col("m"))
            .select(F.col("m").alias("doc_a"), F.col("doc_id").alias("doc_b"))
            .distinct()
        )
    # 'all' mode keeps the grouped-array expansion: emitting every in-bucket
    # pair is inherently quadratic in bucket width, so callers of this mode
    # cap buckets themselves (cf. SIM_JOIN_MAX_BUCKET); the array is the
    # cheapest carrier at capped widths.
    pair_expr = F.flatten(
        F.transform(
            "ids",
            lambda a: F.transform(
                F.filter("ids", lambda b: b > a),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .where(F.size("ids") > 1)
        .select(F.explode(pair_expr).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


@query("dedup_minhash", tag="llm-dedup")  # rows-only: LSH is engine-specific
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs (doc_a < doc_b)."""
    docs = load_table(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signatures(docs))


@query("dedup_simhash", tag="llm-dedup")  # rows-only: signature is engine-hash-based
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """48-bit SimHash per document: per-bit majority vote over token hashes,
    assembled JVM-side (explode tokens → 48 conditional sums → bit pack).
    Emits signature + 4×12-bit band keys for Hamming-bucket joins."""
    d = _normalized(load_table(spark, sf_dir, "documents"))
    # Token hashes stay a per-document array, so the whole signature is
    # per-row inside codegen: zero shuffles, zero fan-out (the explode →
    # 48-column groupBy alternative shuffles every token row). Bit b is set
    # when set-votes outnumber unset-votes: 2·|set| > |tokens|.
    hs = F.transform(
        F.filter(F.split("norm_text", r"\W+"), lambda t: t != ""),
        lambda t: F.xxhash64(t),
    )
    set_bits = [
        F.size(F.filter("hs", lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1))
        for b in range(48)
    ]
    sig = d.withColumn("hs", hs).select(
        "doc_id",
        sum(
            [
                F.when(F.lit(2) * set_bits[b] > F.size("hs"), F.lit(2**b).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for b in range(48)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash48"),
    )
    return sig.select(
        "doc_id",
        "simhash48",
        *[
            F.shiftright(F.col("simhash48"), 12 * i).bitwiseAND(F.lit(0xFFF)).alias(f"band{i}")
            for i in range(4)
        ],
    )


#: Oracle-upgraded (r8, judge order #4). The Spark side compresses each
#: 5-char shingle to xxhash64 before the set/df-cap/join arithmetic — but
#: Jaccard over injectively-mapped sets equals Jaccard over the raw sets,
#: so DuckDB can state the same result on the raw shingle STRINGS (no
#: engine hash involved). A 64-bit collision anywhere in the sf0.01 corpus
#: (~1e5 distinct shingles → P(collision) ≈ 1e-9) is the only divergence.
_NGRAM_JACCARD_ORACLE = f"""
WITH norm AS (SELECT doc_id, lower(trim(coalesce(text, ''))) AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, substring(t, CAST(i AS INT), {SHINGLE_N}) AS shingle
  FROM norm, UNNEST(generate_series(1, greatest(length(t) - {SHINGLE_N - 1}, 1))) AS u(i)
  WHERE length(substring(t, CAST(i AS INT), {SHINGLE_N})) = {SHINGLE_N}
),
rare AS (
  SELECT doc_id, shingle FROM sh
  QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM rare GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
  FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(shared / (sa.n_sh + sb.n_sh - shared), 6) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(shared / (sa.n_sh + sb.n_sh - shared), 6) >= 0.5
"""


@query(
    "dedup_ngram_jaccard",
    _NGRAM_JACCARD_ORACLE,
    tag="llm-dedup",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity on candidate pairs from an inverted
    shingle index. Scale controls: distinct shingles per doc, document-
    frequency cap on shingles (stopword-shingle hot buckets), and the pair
    count accumulates via one groupBy — never an all-pairs cross join.

    The df-capped inverted index feeds two consumers (sizes, pair
    expansion), so it is persisted once instead of re-exploding the corpus;
    at cluster scale this would be a checkpoint to durable storage."""
    docs = load_table(spark, sf_dir, "documents")
    # ONE pass builds the df-capped inverted index (same move as
    # dedup_containment): the posting list per shingle is built by the
    # skew-bounded salted cascade (_bounded_posting_lists — no aggregation
    # buffer ever holds an uncapped hot-shingle list), its summed partial
    # count IS the df, and the cap is a filter on it — replacing the
    # previous persist-the-whole-shingle-stream + sh ⋈ sh.groupBy(sh) +
    # rare ⋈ rare chain (three corpus exchanges and a corpus-sized cache)
    # with the two cascade exchanges and an ARRAY-side pair expansion
    # bounded by MAX_SHINGLE_DF². Identical pair multiset: joining on sh
    # with a.doc_id < b.doc_id emits exactly the in-list ordered pairs per
    # shingle. _shingles(distinct=False) because the cascade's collect_set
    # dedups (doc, sh) itself.
    inv = _bounded_posting_lists(
        _shingles(docs, distinct=False), "sh", MAX_SHINGLE_DF
    ).persist()
    # Doc sizes come from the SAME df-capped universe as the intersection —
    # numerator and denominator must agree or Jaccard is systematically
    # underestimated for documents rich in common (capped-out) shingles and
    # true near-dups silently miss the >=0.5 cutoff. This is "capped
    # Jaccard": similarity over rare shingles only, consistent on both sides.
    doc_sizes = (
        inv.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    pair_expr = F.flatten(
        F.transform(
            "ids",
            lambda a: F.transform(
                F.filter("ids", lambda b: b > a),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    shared = (
        inv.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = doc_sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = doc_sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")), 6
            ),
        )
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


#: label-propagation rounds for cluster formation; star-shaped LSH pair
#: output keeps component diameter tiny, so this is a safety bound, not a
#: typical iteration count (convergence is detected and exits early).
CC_MAX_ITERS = 10


@query("dedup_clusters", tag="llm-dedup")  # rows-only: LSH is engine-specific
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster formation: connected components over the MinHash-LSH
    candidate-pair graph, by min-label **edge contraction** (see
    :func:`_cc_labels` for the algorithm and its equivalence argument).
    Output is (doc_id, component, is_canonical) and covers only docs that
    appear in candidate pairs: DROP rows where ``is_canonical`` is false;
    documents absent from this table were never dup candidates and pass
    through untouched (``dedup_apply_canonical`` applies exactly that
    contract via its anti-join). Grouping is transitive, not just pair-wise
    (A~B, B~C ⇒ one survivor of {A,B,C}, which pairwise dropping gets wrong).

    Scale posture — two hard-won iterative-algorithm rules:

    - **Truncate lineage every round** (``localCheckpoint``). ``persist``
      alone caches data but the *logical plan* doubles per round (labels is
      referenced twice), and Catalyst re-analysis cost then grows
      geometrically — measured locally: round 4 = 8 s, round 6 = 79 s,
      round 8 = minutes, on a 3.5k-edge graph. Checkpointing makes every
      round O(edges) flat. On a cluster, swap localCheckpoint (executor-local
      storage) for a reliable ``checkpoint`` dir so a lost executor can't
      drop label state.
    - **Contract, don't just propagate**: neighbor-min propagation moves
      labels one edge hop per round whatever the pointer depth (r13
      measurement), so round count tracks graph diameter; contraction
      halves the effective diameter per round AND shrinks the edge set
      geometrically, which is what makes band-linked star chains tractable
      (sf0.1: 8 propagation rounds → 3 contraction + 2 resolve rounds,
      wall −49%).

    The driver loop only ever reads a scalar per round (an emptiness probe
    or the monotone label total), never data; each round's work is
    proportional to the shrinking candidate-edge set, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return _cc_labels(spark, docs).select(
        F.col("node").alias("doc_id"),
        "comp",
        (F.col("node") == F.col("comp")).alias("is_canonical"),
    ).orderBy("doc_id")


def _cc_labels(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Converged min-label connected components over the MinHash-LSH
    candidate-pair graph of ``docs`` (the ``dedup_clusters`` docstring
    documents the scale posture), by **edge contraction**: each round
    relabels the (shrinking) supernode edge set through the current label
    table, drops self-loops + duplicates, and takes one min-label step over
    the contracted graph; the full label table composes through the
    per-round maps. Contraction at least halves the effective diameter per
    round, so round count is O(log d) in EDGE hops — plain neighbor-min
    propagation moves labels one edge hop per round (the r13 round-count
    measurement: pointer-jump depth was never the binding constraint, edge
    hops were; at sf0.1 this replaces 8 propagation rounds with 3
    contraction + 2 resolve rounds, and the later rounds run on a
    geometrically smaller edge set).

    Termination and equivalence: the loop exits when the contracted edge
    set is EMPTY — i.e. the doubly-applied label map agrees across every
    original edge — which implies the label-chain ROOTS are constant per
    component. The final resolve loop (comp ← comp(comp) until the
    monotone Σcomp stops changing) returns exactly those roots, and the
    component-minimum node is a fixpoint of every per-round map, so the
    root IS the component min: identical output to converged min-label
    propagation (byte-identical at sf0.01/sf0.1, pinned by the chain-graph
    test). Returns the unsorted (node, comp) label table,
    localCheckpoint-backed (on a cluster, swap for a reliable checkpoint
    dir so a lost executor can't drop label state)."""
    pairs = lsh_candidate_pairs(minhash_signatures(docs))
    return _cc_labels_from_pairs(pairs)


def _cc_labels_from_pairs(pairs: DataFrame) -> DataFrame:
    """The contraction loop of :func:`_cc_labels`, over an explicit
    (doc_a, doc_b) pair table — split out so pathological topologies
    (chains, cycles) are testable without steering the LSH pipeline."""
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    edges = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # Fused round 0: starting from identity labels, the first neighbor-min
    # round computes exactly min({node} ∪ neighbors) per node — so
    # initialize there directly (one agg over edges, replacing the
    # distinct) and save a full two-join round.
    labels = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("m"))
        .select(F.col("src").alias("node"), F.least("src", "m").alias("comp"))
        .localCheckpoint()
    )

    def _label_total(lbl: DataFrame):
        # comp only ever decreases (every map sends a value to <= itself),
        # so Σ comp is unchanged between rounds iff NO label changed — an
        # exact convergence test that costs one agg over checkpointed data.
        # decimal(38,0) keeps the sum exact at any node count.
        return lbl.agg(F.sum(F.col("comp").cast("decimal(38,0)"))).collect()[0][0]

    collapsed = False
    for _ in range(CC_MAX_ITERS):
        la = labels.select(F.col("node").alias("_n1"), F.col("comp").alias("_c1"))
        lb = labels.select(F.col("node").alias("_n2"), F.col("comp").alias("_c2"))
        edges = (
            edges.join(la, edges.src == la._n1)
            .join(lb, edges.dst == lb._n2)
            .select(F.col("_c1").alias("src"), F.col("_c2").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint()  # eager: materializes AND truncates lineage
        )
        if not edges.take(1):
            collapsed = True
            break
        m = (
            edges.groupBy("src")
            .agg(F.min("dst").alias("m"))
            .select(F.col("src").alias("s_node"), F.least("src", "m").alias("s_comp"))
        )
        stepped = labels.join(m, labels.comp == m.s_node, "left").select(
            "node", F.coalesce("s_comp", F.col("comp")).alias("comp")
        )
        # Path-halve the composed labels in the SAME checkpoint job
        # (comp ← comp(comp)): keeps pointer depth logarithmic so a
        # monotone chain — where the min can only flow one id per hop and
        # plain contraction degrades to linear progress — still collapses
        # in O(log d) rounds (pinned by the 60-chain pathological test).
        parent = stepped.select(F.col("node").alias("p_node"), F.col("comp").alias("p_comp"))
        labels = (
            stepped.join(parent, stepped.comp == parent.p_node, "left")
            .select("node", F.coalesce("p_comp", F.col("comp")).alias("comp"))
            .localCheckpoint()
        )
    if not collapsed:
        # A silent exit would return split components — one true duplicate
        # group labeled as several. Surface it (the count runs only on the
        # pathological path; the hot loop never pays for it).
        warnings.warn(
            f"dedup_clusters: edge contraction did not collapse within "
            f"{CC_MAX_ITERS} rounds ({edges.count()} cross-supernode edges "
            f"remain); components may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    # Resolve labels to their chain roots: comp ← comp(comp) to fixpoint.
    # Chain depth is bounded by the contraction round count, so this is
    # O(log) cheap node-sized self-joins — no edge joins.
    total = _label_total(labels)
    resolved = False
    for _ in range(CC_MAX_ITERS):
        p = labels.select(F.col("node").alias("p_node"), F.col("comp").alias("p_comp"))
        labels = (
            labels.join(p, labels.comp == p.p_node, "left")
            .select("node", F.coalesce("p_comp", F.col("comp")).alias("comp"))
            .localCheckpoint()
        )
        new_total = _label_total(labels)
        if new_total == total:
            resolved = True
            break
        total = new_total
    if not resolved:
        warnings.warn(
            f"dedup_clusters: label-root resolution did not reach a fixpoint "
            f"within {CC_MAX_ITERS} rounds; components may be split",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels


_INCREMENTAL_ORACLE = r"""
WITH pref AS (
  SELECT doc_id,
         md5(array_to_string(
           list_slice(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
                                  w -> w <> ''), 1, 10), ' ')) AS digest
  FROM documents
)
SELECT doc_id, digest FROM pref
WHERE doc_id % 2 = 1
  AND digest NOT IN (SELECT digest FROM pref WHERE doc_id % 2 = 0)
"""


@query("dedup_incremental", _INCREMENTAL_ORACLE, tag="llm-dedup")
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-run) dedup: a new batch of documents is admitted
    only if its content digest is absent from the already-ingested corpus —
    the production pattern where yesterday's 100 TB is a digest-only table
    and today's delta anti-joins against it. Modeled here by parity-splitting
    ``documents`` (even doc_id = existing corpus, odd = incoming batch) and
    keying on the first-10-words digest, a deliberately weak key so prefix
    near-dupes actually collide.

    Scale posture: only digests shuffle (16 bytes/row, never text); the anti
    join is a plain hash join on the digest, AQE-skew-splittable. At cluster
    scale, front it with a bloom filter built from the corpus digest table to
    skip the shuffle for the (vast) non-colliding majority.

    ``coalesce(text, '')`` on BOTH sides: a NULL text would otherwise yield a
    NULL digest, which ``left_anti`` keeps but SQL ``NOT IN`` silently drops
    — the classic three-valued-logic divergence (latent here, fixtures have
    no NULLs, but the guard keeps engine and oracle agreeing if they ever
    do)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"), lambda w: w != ""
    )
    digest = F.md5(F.array_join(F.slice(words, 1, 10), " "))
    keyed = d.select("doc_id", digest.alias("digest"))
    existing = keyed.where(F.col("doc_id") % 2 == 0).select("digest").distinct()
    batch = keyed.where(F.col("doc_id") % 2 == 1)
    return batch.join(existing, "digest", "left_anti").select("doc_id", "digest")


#: tokens per passage chunk for exact passage-level dedup
CHUNK_TOKENS = 10

_PASSAGE_ORACLE = f"""
WITH words AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS w
  FROM documents),
chunks AS (
  SELECT doc_id,
         array_to_string(w[(i*{CHUNK_TOKENS}+1):((i+1)*{CHUNK_TOKENS})], ' ') AS chunk
  FROM words,
       UNNEST(generate_series(0, CAST(len(w) // {CHUNK_TOKENS} AS INT) - 1)) AS t(i)),
freq AS (
  SELECT chunk, COUNT(*) AS n_docs
  FROM (SELECT DISTINCT doc_id, chunk FROM chunks) GROUP BY chunk)
SELECT c.doc_id, COUNT(*) AS n_chunks,
       CAST(SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
FROM chunks c JOIN freq f USING (chunk)
GROUP BY c.doc_id
"""


@query("dedup_passage_chunks", _PASSAGE_ORACLE, tag="llm-dedup")
def dedup_passage_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact passage-level duplication audit (the sub-document granularity
    between whole-doc ``dedup_exact`` and n-gram Jaccard): split each doc
    into consecutive CHUNK_TOKENS-token passages, build the passage inverted
    index, and report per-doc how many of its passages also occur in other
    docs — the signal used to strip boilerplate/templated passages from
    training corpora.

    Scale shape: chunking is per-row array work (sequence + slice +
    array_join, no Python); the only shuffles are the passage groupBy and
    the join back, both keyed by ``xxhash64(chunk)`` — an inverted index
    over 8-byte keys, never pairwise and never shipping passage strings
    (measured 1.4× super-linear at the 100× probe when string-keyed;
    hash-keyed restores ~linear, see SCALE.md). The token array is
    materialized as a column before the ``transform`` lambda slices it —
    HOF lambdas re-evaluate non-attribute child expressions per element,
    so an inline split would re-tokenize once per chunk (the
    ``dedup_passage_rewrite`` twin always did this; same fix as the
    text-tier bigram keys, SCALE.md round 5). The final counts carry no
    hash, so the key stays oracle-comparable; a 64-bit collision would
    need ~2³² distinct passages to become likely. Within-doc repeats are
    not self-matches: frequency counts distinct docs per passage."""
    d = load_table(spark, sf_dir, "documents")
    sized = d.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("w"),
    )
    n_full = F.floor(F.size("w") / CHUNK_TOKENS).cast("int")
    idx = F.when(n_full > 0, F.sequence(F.lit(0), n_full - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunks = F.transform(
        idx,
        lambda i: F.xxhash64(
            F.array_join(F.slice("w", i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " ")
        ),
    )
    ch = sized.select("doc_id", F.explode(chunks).alias("chunk"))
    freq = ch.distinct().groupBy("chunk").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        ch.join(freq, "chunk")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_chunks"),
        )
    )


@query("dedup_apply_canonical", tag="llm-dedup")  # rows-only: LSH-derived
def dedup_apply_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step that closes the near-dup loop (detect → cluster →
    **materialize the survivors**): within each duplicate cluster keep the
    highest-quality member — here quality = document length, the common
    "keep the longest variant" rule; production swaps in any score column —
    with doc_id as the deterministic tie-break. Docs in no cluster pass
    through untouched.

    Plan: one window (rank within comp by score desc) over the cluster
    table — which is candidate-graph-sized, NOT corpus-sized — plus a
    broadcast-able semi/anti join against the corpus. ``rn = 1`` compiles
    to the two-phase WindowGroupLimit cut like ``topk_per_group``. Output
    is every surviving doc with its cluster id (null comp = was never a
    duplicate). Invariants pinned in tests/test_operators_misc: exactly one
    survivor per cluster, and it is a max-length member."""
    from pyspark.sql import Window

    docs_full = load_table(spark, sf_dir, "documents")
    docs = docs_full.select("doc_id", "n_chars")
    # consume the label table directly: the doc_id ordering dedup_clusters
    # guarantees its own consumers is useless under the joins below and
    # would cost a range exchange (twice — clusters is referenced twice).
    clusters = _cc_labels(spark, docs_full).select(
        F.col("node").alias("doc_id"), "comp"
    )
    scored = clusters.join(docs, "doc_id")
    w = Window.partitionBy("comp").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    cluster_keep = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id", "comp", "n_chars")
    )
    untouched = docs.join(clusters, "doc_id", "left_anti").select(
        "doc_id", F.lit(None).cast("long").alias("comp"), "n_chars"
    )
    return cluster_keep.unionByName(untouched)


_REWRITE_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                     x -> x <> '') AS w
  FROM documents),
sized AS (
  SELECT doc_id, w, CAST(floor(len(w) / {CHUNK_TOKENS}) AS INT) AS n_full
  FROM base),
chunks AS (
  SELECT doc_id, CAST(u.i AS INT) AS idx,
         array_to_string(list_slice(w, u.i * {CHUNK_TOKENS} + 1,
                                    (u.i + 1) * {CHUNK_TOKENS}), ' ') AS chunk
  FROM sized, unnest(generate_series(0, n_full - 1)) AS u(i)
  WHERE n_full > 0),
owners AS (SELECT chunk, MIN(doc_id) AS owner FROM chunks GROUP BY chunk),
kept AS (
  SELECT c.doc_id,
         CAST(COUNT(*) FILTER (WHERE o.owner = c.doc_id) AS BIGINT) AS n_kept,
         CAST(COUNT(*) FILTER (WHERE o.owner < c.doc_id) AS BIGINT) AS n_dropped,
         string_agg(c.chunk, ' ' ORDER BY c.idx)
           FILTER (WHERE o.owner = c.doc_id) AS kept_str
  FROM chunks c JOIN owners o USING (chunk) GROUP BY c.doc_id)
SELECT s.doc_id,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.n_dropped, 0) AS n_dropped,
       md5(concat_ws(' ', k.kept_str,
             nullif(array_to_string(
               list_slice(s.w, s.n_full * {CHUNK_TOKENS} + 1, len(s.w)), ' '),
             ''))) AS clean_md5
FROM sized s LEFT JOIN kept k USING (doc_id)
"""


@query("dedup_passage_rewrite", _REWRITE_ORACLE, tag="llm-dedup")
def dedup_passage_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of passage-level dedup (``dedup_passage_chunks`` is
    the audit): strip every {CHUNK}-token passage that some LOWER-doc_id
    document also contains (keep-first policy — deterministic, no RNG) and
    REASSEMBLE the surviving text in original passage order, with the
    sub-passage tail always retained. This is the C4/RefinedWeb-style
    boilerplate-removal rewrite, the single highest-volume transform in a
    web-scale curation pipeline.

    Scale shape: chunking is per-row codegen; ownership is one groupBy on
    the passage key; reassembly is a per-doc sort+join of ONLY the kept
    passages (collect_list over ≤ chunks-per-doc structs, bounded state).
    The rewrite is compared by md5 so the driver frame stays scalar; the
    full cleaned text is what a real pipeline would write. Passage keys here
    are the strings themselves for oracle parity — the production path keys
    by ``xxhash64(chunk)`` exactly as ``dedup_passage_chunks`` does."""
    d = load_table(spark, sf_dir, "documents")
    w = F.filter(F.split(F.coalesce("text", F.lit("")), r"\s+"), lambda x: x != "")
    sized = d.select(
        "doc_id",
        w.alias("w"),
        F.floor(F.size(w) / CHUNK_TOKENS).cast("int").alias("n_full"),
    )
    chunk_arr = F.transform(
        F.sequence(F.lit(0), F.col("n_full") - 1),
        lambda i: F.array_join(F.slice("w", i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "),
    )
    chunks = sized.where(F.col("n_full") > 0).select(
        "doc_id", F.posexplode(chunk_arr).alias("idx", "chunk")
    )
    owners = chunks.groupBy("chunk").agg(F.min("doc_id").alias("owner"))
    mine = F.col("owner") == F.col("doc_id")
    kept = (
        chunks.join(owners, "chunk")
        .groupBy("doc_id")
        .agg(
            F.sum(mine.cast("int")).cast("bigint").alias("n_kept"),
            F.sum((F.col("owner") < F.col("doc_id")).cast("int"))
            .cast("bigint")
            .alias("n_dropped"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(mine, F.struct("idx", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
                " ",
            ).alias("kept_str"),
        )
    )
    tail = F.array_join(
        F.slice(
            "w",
            F.col("n_full") * CHUNK_TOKENS + 1,
            F.size("w") - F.col("n_full") * CHUNK_TOKENS,
        ),
        " ",
    )
    return (
        sized.join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("n_dropped", F.lit(0)).cast("bigint").alias("n_dropped"),
            F.md5(
                F.concat_ws(
                    " ", F.nullif("kept_str", F.lit("")), F.nullif(tail, F.lit(""))
                )
            ).alias("clean_md5"),
        )
    )


#: distinct-document frequency at which a passage counts as boilerplate
#: and is stripped from EVERY document (CCNet/RefinedWeb-style policy —
#: frequency-threshold, not keep-first: even the first occurrence goes,
#: because a nav bar is junk in its first document too).
BOILERPLATE_DF = 2

_BOILERPLATE_ORACLE = f"""
WITH base AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
                     x -> x <> '') AS w
  FROM documents),
sized AS (
  SELECT doc_id, w, CAST(floor(len(w) / {CHUNK_TOKENS}) AS INT) AS n_full
  FROM base),
chunks AS (
  SELECT doc_id, CAST(u.i AS INT) AS idx,
         array_to_string(list_slice(w, u.i * {CHUNK_TOKENS} + 1,
                                    (u.i + 1) * {CHUNK_TOKENS}), ' ') AS chunk
  FROM sized, unnest(generate_series(0, n_full - 1)) AS u(i)
  WHERE n_full > 0),
boiler AS (
  SELECT chunk FROM chunks GROUP BY chunk
  HAVING COUNT(DISTINCT doc_id) >= {BOILERPLATE_DF}),
marked AS (
  SELECT c.doc_id, c.idx, c.chunk, b.chunk IS NOT NULL AS is_boiler
  FROM chunks c LEFT JOIN boiler b USING (chunk)),
kept AS (
  SELECT doc_id,
         CAST(COUNT(*) FILTER (WHERE NOT is_boiler) AS BIGINT) AS n_kept,
         CAST(COUNT(*) FILTER (WHERE is_boiler) AS BIGINT) AS n_stripped,
         string_agg(chunk, ' ' ORDER BY idx)
           FILTER (WHERE NOT is_boiler) AS kept_str
  FROM marked GROUP BY doc_id)
SELECT s.doc_id,
       coalesce(k.n_kept, 0) AS n_kept,
       coalesce(k.n_stripped, 0) AS n_stripped,
       md5(concat_ws(' ', k.kept_str,
             nullif(array_to_string(
               list_slice(s.w, s.n_full * {CHUNK_TOKENS} + 1, len(s.w)), ' '),
             ''))) AS clean_md5
FROM sized s LEFT JOIN kept k USING (doc_id)
"""


@query("dedup_boilerplate_strip", _BOILERPLATE_ORACLE, tag="llm-dedup")
def dedup_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-threshold boilerplate removal (the CCNet policy,
    complementing ``dedup_passage_rewrite``'s keep-first policy): any
    {CHUNK_TOKENS}-token passage occurring in ≥ BOILERPLATE_DF distinct
    documents is stripped from ALL of them — headers, nav bars, and cookie
    banners are junk in their first document too — and the surviving text
    is reassembled in original order (md5-compared so the driver frame
    stays scalar). Within-doc repeats are NOT boilerplate: frequency
    counts distinct documents.

    Scale shape: chunking is per-row codegen; the document-frequency
    aggregate is the one unavoidable shuffle. The boilerplate SET is then
    df-capped by construction (≤ total-chunks / BOILERPLATE_DF distinct
    strings, and in real corpora orders of magnitude smaller — it's the
    heavy-tail survivors), so the join back to chunks is left UNHINTED
    and AQE converts it to a broadcast join at runtime when the set is
    small; the fallback is a plain shuffled hash join, never a quadratic
    path. Passage keys stay strings for oracle parity — production keys
    by ``xxhash64(chunk)`` as ``dedup_passage_chunks`` does."""
    d = load_table(spark, sf_dir, "documents")
    w = F.filter(F.split(F.coalesce("text", F.lit("")), r"\s+"), lambda x: x != "")
    sized = d.select(
        "doc_id",
        w.alias("w"),
        F.floor(F.size(w) / CHUNK_TOKENS).cast("int").alias("n_full"),
    )
    chunk_arr = F.transform(
        F.sequence(F.lit(0), F.col("n_full") - 1),
        lambda i: F.array_join(F.slice("w", i * CHUNK_TOKENS + 1, CHUNK_TOKENS), " "),
    )
    chunks = sized.where(F.col("n_full") > 0).select(
        "doc_id", F.posexplode(chunk_arr).alias("idx", "chunk")
    )
    boiler = (
        chunks.groupBy("chunk")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= BOILERPLATE_DF)
        .select("chunk", F.lit(True).alias("is_boiler"))
    )
    marked = chunks.join(boiler, "chunk", "left")
    keep = F.col("is_boiler").isNull()
    kept = marked.groupBy("doc_id").agg(
        F.sum(keep.cast("int")).cast("bigint").alias("n_kept"),
        F.sum((~keep).cast("int")).cast("bigint").alias("n_stripped"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.when(keep, F.struct("idx", "chunk")))
                ),
                lambda s: s["chunk"],
            ),
            " ",
        ).alias("kept_str"),
    )
    tail = F.array_join(
        F.slice(
            "w",
            F.col("n_full") * CHUNK_TOKENS + 1,
            F.size("w") - F.col("n_full") * CHUNK_TOKENS,
        ),
        " ",
    )
    return sized.join(kept, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
        F.coalesce("n_stripped", F.lit(0)).cast("bigint").alias("n_stripped"),
        F.md5(
            F.concat_ws(
                " ", F.nullif("kept_str", F.lit("")), F.nullif(tail, F.lit(""))
            )
        ).alias("clean_md5"),
    )


#: Hard input cap for the MLlib parity key. Measured (SCALE.md "10x quadratic
#: hunt"): stock ``approxSimilarityJoin`` has no bucket cap — on duplicate-heavy
#: staging it ran 40 s at 1x and was aborted after >35 min at 10x with all
#: cores pinned in ``MinHashLSHModel.keyDistance``. The hand-built
#: ``dedup_minhash`` (bucket-capped) is the scale path; this key exists ONLY as
#: a small-scale cross-check, so refuse inputs beyond the parity-check size
#: rather than let a caller run the quadratic join on real data. 20k docs
#: covers every verification fixture (sf0.001: 50, sf0.01: 500, sf0.1: 5000).
MINHASH_ML_MAX_DOCS = 20_000


@query("dedup_minhash_ml", tag="llm-dedup")  # rows-only: LSH is engine-specific
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via the STOCK Spark ML pipeline (SURVEY §2.D names
    ``ml.feature.MinHashLSH + approxSimilarityJoin`` as the library path):
    shingle array → ``HashingTF`` binary vectors → ``MinHashLSH`` →
    ``approxSimilarityJoin`` at Jaccard distance ≤ 0.5. Registered alongside
    the hand-built ``dedup_minhash`` so the two MinHash implementations
    cross-check each other: the library join and the banded-LSH pipeline
    must surface the same heavy near-dup mass.

    Scale note: ``approxSimilarityJoin`` explodes each vector per hash table
    and shuffle-joins on (table, hash) — the same band-bucket shape as the
    hand-built path, but with vectors (not 8-byte digests) as shuffle
    payload, which is exactly why the hand-built path is the 100 TB default
    and this one is the library-parity tier. Inputs above
    ``MINHASH_ML_MAX_DOCS`` are refused outright (see the constant's note for
    the measured 10x abort that motivates the cap)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    docs = _normalized(load_table(spark, sf_dir, "documents"))
    # limit(cap+1).count() bounds the guard's own cost: it stops as soon as
    # cap+1 rows are seen instead of scanning the full table.
    if docs.select("doc_id").limit(MINHASH_ML_MAX_DOCS + 1).count() > MINHASH_ML_MAX_DOCS:
        raise ValueError(
            f"dedup_minhash_ml is a small-scale parity cross-check capped at "
            f"{MINHASH_ML_MAX_DOCS} documents: stock MLlib approxSimilarityJoin "
            f"is quadratic on duplicate-heavy data (measured abort at 10x, "
            f"SCALE.md). Use dedup_minhash (bucket-capped banded LSH) at scale."
        )
    n = SHINGLE_N
    sh_arr = F.array_distinct(
        F.filter(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("norm_text") - (n - 1), F.lit(1))),
                lambda i: F.col("norm_text").substr(i, F.lit(n)),
            ),
            lambda s: F.length(s) == n,
        )
    )
    sets = docs.select("doc_id", sh_arr.alias("sh")).where(F.size("sh") > 0)
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(sets)
    # 4 tables (r11, was 8): approxSimilarityJoin explodes rows per table,
    # so tables are the key's dominant cost; at Jaccard <= 0.5 on this
    # corpus 4 tables already surface the same heavy near-dup mass the
    # hand-built banded path finds, which is all the parity tier claims.
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=7)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
    return (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.lit(1.0) - F.col("jaccard_dist"), 6).alias("jaccard_sim"),
        )
    )


#: containment geometry: word 5-grams, hot-gram df cap, containment cutoff
CONTAIN_N = 5
CONTAIN_MAX_DF = 50
CONTAIN_CUT = 0.6

_CONTAIN_ORACLE = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(trim(coalesce(text, ''))),
                                           '\\s+'), x -> x <> '') AS w
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id,
         array_to_string(list_slice(w, u.i, u.i + {CONTAIN_N} - 1), ' ') AS g
  FROM tok, unnest(generate_series(1, len(w) - {CONTAIN_N} + 1)) AS u(i)
  WHERE len(w) >= {CONTAIN_N}),
rare AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(*) <= {CONTAIN_MAX_DF}),
rg AS (SELECT grams.doc_id, grams.g FROM grams JOIN rare USING (g)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_g FROM rg GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS shared
  FROM rg a JOIN rg b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b,
       ROUND(shared / CAST(LEAST(sa.n_g, sb.n_g) AS DOUBLE), 6) AS containment
FROM shared
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE shared / CAST(LEAST(sa.n_g, sb.n_g) AS DOUBLE) >= {CONTAIN_CUT}
"""


@query("dedup_containment", _CONTAIN_ORACLE, tag="llm-dedup")
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-ngram CONTAINMENT near-dup pairs: |A∩B| / min(|A|, |B|) over
    distinct word 5-gram sets. Jaccard misses doc-inside-doc duplication (a
    snippet quoted inside a much longer page scores near zero); containment
    is the standard complement that catches it.

    Same scale discipline as ``dedup_ngram_jaccard``: candidate pairs come
    from the inverted gram index (one groupBy — never a cross join), hot
    grams are df-capped so no stopword bucket goes quadratic, and the
    NUMERATOR AND DENOMINATOR both use the capped gram universe so the
    score is consistent (capped containment). Word-level grams keep keys
    oracle-comparable; the production path would key by ``xxhash64(gram)``
    like ``dedup_passage_chunks``."""
    d = _normalized(load_table(spark, sf_dir, "documents"))
    w = F.filter(F.split("norm_text", r"\s+"), lambda x: x != "")
    grams_arr = F.transform(
        F.sequence(F.lit(1), F.size("w") - (CONTAIN_N - 1)),
        lambda i: F.array_join(F.slice("w", i, CONTAIN_N), " "),
    )
    # ONE pass builds the df-capped inverted index: the skew-bounded salted
    # cascade (_bounded_posting_lists) builds the distinct-doc posting list
    # per gram without any uncapped hot-gram aggregation buffer, the summed
    # partial count IS the df, and the cap is a filter on it — so the
    # exploded gram stream needs no distinct exchange, no groupBy-df side,
    # and no grams ⋈ df join (the pre-r13 form evaluated the whole
    # gram-construction subtree TWICE — the two heaviest stages in the
    # stage profile — and exchanged the stream three times). Candidate
    # pairs then expand ARRAY-side from each capped posting list (bounded
    # by CONTAIN_MAX_DF² — same argument as lsh_candidate_pairs), replacing
    # the rare ⋈ rare self-join: identical pair multiset, since joining on
    # g with a.doc_id < b.doc_id emits exactly the in-list ordered pairs
    # per gram.
    inv = _bounded_posting_lists(
        d.select("doc_id", w.alias("w"))
        .where(F.size("w") >= CONTAIN_N)
        .select("doc_id", F.explode(grams_arr).alias("g")),
        "g",
        CONTAIN_MAX_DF,
    ).persist()
    sizes = (
        inv.select(F.explode("ids").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_g"))
    )
    pair_expr = F.flatten(
        F.transform(
            "ids",
            lambda a: F.transform(
                F.filter("ids", lambda b: b > a),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    shared = (
        inv.select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_g").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_g").alias("n_b"))
    score = F.col("shared") / F.least("n_a", "n_b").cast("double")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(score >= CONTAIN_CUT)
        .select("doc_a", "doc_b", F.round(score, 6).alias("containment"))
    )
