"""[EXT] Deduplication operators over the ``documents`` corpus.

Each strategy is a ``queries()`` entry with a DuckDB oracle:

- exact (content-hash groupBy)
- MinHash + LSH banding (near-dup candidate pairs)
- incremental MinHash probe of a new batch vs a persisted band index
- SimHash (16-bit fingerprint)
- n-gram Jaccard (blocked pairwise similarity)
- embedding-cosine near-dup (on ``embeddings``)
- connected-components clustering + keep-canonical policy

Scale design (100 TB corpora): every strategy is shuffle-bounded —
exact dedup shuffles on the content hash; MinHash/LSH shuffles on
(band_idx, band_value) buckets, never all-pairs; Jaccard and cosine
near-dup only compare within blocking buckets (lang × length band,
label) so candidate pairs stay linear-ish, not quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import query
from ..session import load_table, load_table_parallel
from .vectorized import MINHASH_SEEDS

N_MINHASH = 8      # minhash signature length
N_BANDS = 4        # LSH bands (2 rows per band)
# Bucket-size cap: a band bucket larger than this is boilerplate (its
# members are all mutual near-dups anyway) and its quadratic pair
# expansion would make one straggler task at web scale — drop it, on
# BOTH engine sides so the oracle agrees at any scale.
LSH_BUCKET_CAP = 64


def _shingles(words_col):
    """Distinct 3-word shingles from a words array (both engines 1-based)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words_col) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words_col, i),
                F.element_at(words_col, i + 1),
                F.element_at(words_col, i + 2),
            ),
        )
    )


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           MIN(doc_id) AS keeper_id,
           COUNT(*)    AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) > 1
    """,
    tags=("ext", "dedup"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the smallest doc_id.

    One shuffle on md5(text); at 100 TB the map-side partial agg reduces
    each partition to its distinct hashes first, so shuffle volume is
    O(distinct docs).
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_id"), F.count("*").alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# Shared WITH-block: shingles → one 60-bit hash per shingle → 8 xor-fold
# minima → 4 bands of 2 → capped buckets → distinct candidate pairs.
_SIG_LIST = ", ".join(
    f"list_aggregate(list_transform(hs, h -> xor(h, {r})), 'min')"
    for r in MINHASH_SEEDS
)
_BANDS_CTES = f"""
    words AS (
        SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(w) - 1),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingles
        FROM words WHERE len(w) >= 3
    ), hv AS (
        SELECT doc_id,
               list_transform(shingles,
                   s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
        FROM sh
    ), mh AS (
        SELECT doc_id, [{_SIG_LIST}] AS sig FROM hv
    ), bands AS (
        SELECT doc_id, i AS band_idx,
               CAST(sig[2*i - 1] AS VARCHAR) || '_' || CAST(sig[2*i] AS VARCHAR)
                   AS band_val
        FROM mh CROSS JOIN unnest(range(1, {N_BANDS + 1})) AS t(i)
    )"""
_MINHASH_CTES = f"""{_BANDS_CTES}, capped AS (
        SELECT doc_id, band_idx, band_val FROM bands
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= {LSH_BUCKET_CAP}
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b
          ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
"""

_MINHASH_ORACLE = f"WITH {_MINHASH_CTES} SELECT doc_a, doc_b FROM pairs"


def _band_rows(spark: SparkSession, sf_dir: str, where=None) -> DataFrame:
    """(doc_id, band_idx0, band_val) LSH band rows — the persisted unit
    of a band index. Signature via an Arrow-batched kernel (see
    vectorized.py for why not nested HOF lambdas); bands/bucketing stay
    JVM-side built-ins. ``where`` (a Column predicate) restricts which
    documents get SIGNED — the incremental path signs only its batch,
    never the already-indexed corpus."""
    from .vectorized import minhash_sig_udf

    d = load_table_parallel(spark, sf_dir, "documents", parts=8)
    if where is not None:
        d = d.filter(where)
    words = F.split("text", " ")
    sig = d.filter(F.size(words) >= 3).select(
        "doc_id", minhash_sig_udf()("text").alias("sig")
    )
    return sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "_", F.element_at("sig", 2 * i - 1), F.element_at("sig", 2 * i)
                    )
                    for i in range(1, N_BANDS + 1)
                ]
            )
        ).alias("band_idx0", "band_val"),
    )


def capped_member_lists(
    bands: DataFrame, keys: list[str], member, cap: int
) -> DataFrame:
    """Per-bucket sorted member lists with the bucket-size cap enforced
    BEFORE the collect (r18, guide §2.5/§5): ``collect_list`` buffers a
    whole bucket in ONE aggregation buffer, and unlike a sort/window
    buffer an agg buffer's array cannot spill — at web scale a single
    degenerate band value (the all-identical signature of boilerplate
    content) would materialize as a multi-GB array in one task before a
    size filter ever ran. The cap is a ``count(*) OVER (PARTITION BY
    bucket)`` pre-filter on the SAME exchange the collect needs (the
    oracle's own QUALIFY shape): WindowExec buffers a partition in a
    spillable array, so a hot bucket streams through disk, its rows are
    dropped by the filter, and collect_list never sees more than ``cap``
    members per bucket. Semantics are identical to the old post-collect
    size filter: over-cap buckets dropped whole, singletons pairless.

    Measured-and-rejected alternative (r18, plans/r18 notes): a
    map-side-combinable count + broadcast anti-join of the hot keys —
    Catalyst's PushDownLeftSemiAntiJoin pushes the anti-join below the
    shared repartition, the two branches stop canonical-matching, and
    the signature kernel runs TWICE (interleaved A/B: 1.35 s vs 0.73 s
    old at sf0.1, jobs 3 → 5). The window form costs one in-partition
    sort instead and keeps the kernel single-evaluation.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(*keys)
    capped = (
        bands.withColumn("__n", F.count("*").over(w))
        .filter((F.col("__n") >= 2) & (F.col("__n") <= cap))
        .drop("__n")
    )
    return capped.groupBy(*keys).agg(
        F.array_sort(F.collect_list(member)).alias("ms")
    )


def minhash_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b) LSH candidate pairs — shared by dedup_minhash_lsh
    (emits them) and dedup_ngram_jaccard (verifies them exactly)."""
    bands = _band_rows(spark, sf_dir)
    # Pair generation WITHOUT a self-join: group docs per band bucket and
    # expand i<j pairs inside the bucket. A self-join here makes Spark
    # evaluate the whole minhash pipeline twice (the broadcast build side
    # can't reuse the probe side's exchange); the groupBy computes
    # signatures once and shuffles only (bucket, doc_id) rows.
    # Bucket-size cap (mirrored in the oracle's QUALIFY): buckets above
    # LSH_BUCKET_CAP are boilerplate — one such bucket at web scale is a
    # single straggler task doing a quadratic expansion; the cap is
    # applied BEFORE the collect (capped_member_lists) so it never
    # materializes either.
    buckets = capped_member_lists(
        bands,
        ["band_idx0", "band_val"],
        F.col("doc_id"),
        LSH_BUCKET_CAP,
    ).withColumnRenamed("ms", "ids")
    pair = F.explode(
        F.flatten(
            F.transform(
                F.col("ids"),
                lambda a, i: F.transform(
                    F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                    lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
                ),
            )
        )
    )
    return (
        buckets.select(pair.alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, tags=("ext", "dedup", "minhash"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-duplicate candidate pairs.

    Pipeline: 3-word shingles → ONE 60-bit md5-derived hash per shingle
    → 8 xor-fold minima (h_j = h XOR seed_j) → 4 bands of 2 → bucket on
    (band_idx, band_value) with a size cap → doc pairs sharing any band.

    Scale: the ONLY shuffle key is the band bucket — identical
    signatures collide, everything else doesn't, so the shuffle is
    O(docs × bands) and the join output is O(true near-dups), never
    O(n²). Skewed buckets (boilerplate docs) are dropped by
    LSH_BUCKET_CAP on both engine sides; AQE skew-join handles what's
    below the cap.
    """
    return minhash_candidate_pairs(spark, sf_dir)


_SIMHASH_SQL = """
    WITH tok AS (
        SELECT doc_id, md5({unnest_words}) AS h FROM {doc_src}
    ), val AS (
        SELECT doc_id,
               ({hexpos}(substr(h, 1, 1)) - 1) * 4096
             + ({hexpos}(substr(h, 2, 1)) - 1) * 256
             + ({hexpos}(substr(h, 3, 1)) - 1) * 16
             + ({hexpos}(substr(h, 4, 1)) - 1) AS v
        FROM tok
    ), bits AS (
        SELECT doc_id, {bit_sums}
        FROM val GROUP BY doc_id
    )
    SELECT doc_id, {assemble} AS simhash16
    FROM bits
"""


def _simhash_sql(dialect: str) -> str:
    """Render the SimHash query for either engine (dialect deltas only in
    tokenize/unnest and strpos spelling)."""
    if dialect == "duckdb":
        unnest = "unnest(string_split(text, ' '))"
        src = "documents"
        hexpos = "strpos('0123456789abcdef', "
        shift = "(v >> {b})"
    else:
        unnest = "word"
        src = "(SELECT doc_id, explode(split(text, ' ')) AS word FROM documents_par)"
        hexpos = "instr('0123456789abcdef', "
        shift = "shiftright(v, {b})"
    bit_sums = ", ".join(
        f"SUM(CASE WHEN {shift.format(b=b)} & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
        for b in range(16)
    )
    assemble = " + ".join(f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16))
    return (
        _SIMHASH_SQL.replace("{unnest_words}", unnest)
        .replace("{doc_src}", src)
        .replace("{hexpos}(", hexpos)
        .replace("{bit_sums}", bit_sums)
        .replace("{assemble}", assemble)
    )


@query("dedup_simhash", oracle=_simhash_sql("duckdb"), tags=("ext", "dedup", "simhash"))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash fingerprint per document.

    Each token hashes to a 16-bit value (first 4 hex chars of md5 —
    engine-portable); per bit, tokens vote ±1; the sign vector is the
    fingerprint. Near-dups = small Hamming distance (tested in pytest);
    this query emits the fingerprints.

    Scale: explode → 16 conditional-sum aggregates → one shuffle on
    doc_id. Token weighting (repeated words vote repeatedly) is
    intentional — standard SimHash uses term frequency as weight.
    """
    load_table_parallel(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_par"
    )
    return spark.sql(_simhash_sql("spark"))


# shared verification scaffold: LSH candidate pairs joined to both
# sides' shingle sets with intersection + set sizes — jaccard and
# containment are different projections/thresholds over the same rows
_SCORED_CTES = f"""{_MINHASH_CTES},
    scored AS (
        SELECT p.doc_a, p.doc_b,
               len(list_filter(a.shingles, s -> list_contains(b.shingles, s))) AS inter,
               len(a.shingles) AS na, len(b.shingles) AS nb
        FROM pairs p
        JOIN sh a ON a.doc_id = p.doc_a
        JOIN sh b ON b.doc_id = p.doc_b
    )"""

_JACCARD_ORACLE = f"""
    WITH {_SCORED_CTES}
    SELECT doc_a, doc_b,
           ROUND(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
    FROM scored
    WHERE inter >= 0.3 * (na + nb - inter)
"""


def _scored_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate pairs joined to both documents' shingle sets, with
    ``inter``/``na``/``nb`` columns — the shared verification scaffold
    of dedup_ngram_jaccard and dedup_containment (each is one
    projection + threshold over these rows)."""
    cand = minhash_candidate_pairs(spark, sf_dir)
    d = load_table_parallel(spark, sf_dir, "documents", parts=8)
    words = F.split("text", " ")
    sh = d.filter(F.size(words) >= 3).select(
        "doc_id", _shingles(words).alias("shingles")
    )
    return (
        cand.join(
            sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")),
            "doc_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("na", F.size("sh_a"))
        .withColumn("nb", F.size("sh_b"))
    )


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, tags=("ext", "dedup", "jaccard"))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard (threshold 0.3) over MinHash/LSH candidates.

    The verification half of the production near-dup pipeline: LSH
    banding proposes candidate pairs (linear-ish shuffle,
    minhash_candidate_pairs), exact shingle-set Jaccard confirms them.
    Round 1 compared all pairs inside (lang, size-band) blocks — still
    O(n²) within a block, which a popular cell in a web corpus turns
    into millions of comparisons (VERDICT.md r1 scale item). Here the
    comparison count is O(candidates), each one two doc_id equi-join
    lookups into the shingle-set table.
    """
    # r17 opt (guide §1.2 per-pair work): the filter is pushed into the
    # broadcast-join condition, so every textual reference to `inter`
    # is a full array_intersect evaluation over both shingle sets — the
    # dominant per-pair kernel. `inter >= 0.3*uni` referenced it twice
    # (both sides of the comparison; arithmetic never short-circuits).
    # Algebra in exact integers: inter >= 3*(na+nb-inter)/10  ⟺
    # 13*inter >= 3*(na+nb) — ONE reference, and exactly the oracle's
    # DECIMAL(1,1) predicate at any magnitude (DuckDB parses 0.3 as
    # decimal; the old double-0.3 form was the approximation).
    scored = _scored_candidate_pairs(spark, sf_dir).withColumn(
        "uni", F.col("na") + F.col("nb") - F.col("inter")
    )
    return scored.filter(
        13 * F.col("inter") >= 3 * (F.col("na") + F.col("nb"))
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter").cast("double") / F.col("uni"), 6).alias("jaccard"),
    )


_CONTAINMENT_ORACLE = f"""
    WITH {_SCORED_CTES}
    SELECT doc_a, doc_b,
           ROUND(CAST(inter AS DOUBLE) / na, 6) AS cont_a_in_b,
           ROUND(CAST(inter AS DOUBLE) / nb, 6) AS cont_b_in_a
    FROM scored
    WHERE inter >= 0.8 * na OR inter >= 0.8 * nb
"""


@query(
    "dedup_containment",
    oracle=_CONTAINMENT_ORACLE,
    tags=("ext", "dedup", "containment"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT over MinHash/LSH candidates: flag
    a pair when >=80% of EITHER document's shingle set lies inside the
    other's. Jaccard misses the quote-plus-commentary case (a short doc
    fully embedded in a long one scores low symmetric overlap, high
    containment) — the Broder resemblance/containment split; dedup
    pipelines use containment to collapse sub-document duplication.

    Same scale shape as dedup_ngram_jaccard: candidate pairs come from
    the banded LSH join (never all-pairs), each verified by two doc_id
    equi-join lookups into the shingle-set table.
    """
    # r17 opt (guide §1.2, same reasoning as dedup_ngram_jaccard): the
    # OR filter is pushed into the join condition where each arm's
    # `inter` reference is a full array_intersect evaluation — up to 2
    # per candidate pair. inter >= 0.8*na OR inter >= 0.8*nb collapses
    # to inter >= 0.8*least(na,nb) (multiplying by a positive constant
    # is monotone), and in exact integers that is 5*inter >=
    # 4*least(na,nb) — ONE array_intersect per pair, and exactly the
    # oracle's DECIMAL(1,1) arithmetic at any magnitude.
    scored = _scored_candidate_pairs(spark, sf_dir)
    return scored.filter(
        5 * F.col("inter") >= 4 * F.least("na", "nb")
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter").cast("double") / F.col("na"), 6).alias(
            "cont_a_in_b"
        ),
        F.round(F.col("inter").cast("double") / F.col("nb"), 6).alias(
            "cont_b_in_a"
        ),
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(
             list_aggregate(list_transform(range(1, 65), i -> a.e[i] * b.e[i]), 'sum')
             / (sqrt(list_aggregate(list_transform(range(1, 65), i -> a.e[i] * a.e[i]), 'sum'))
              * sqrt(list_aggregate(list_transform(range(1, 65), i -> b.e[i] * b.e[i]), 'sum'))),
             6) AS cos_sim
    FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_aggregate(list_transform(range(1, 65), i -> a.e[i] * b.e[i]), 'sum')
          / (sqrt(list_aggregate(list_transform(range(1, 65), i -> a.e[i] * a.e[i]), 'sum'))
           * sqrt(list_aggregate(list_transform(range(1, 65), i -> b.e[i] * b.e[i]), 'sum')))
          > 0.3
    """,
    tags=("ext", "dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by class label.

    VERIFICATION-ONLY at scale: the label-blocked self-join is still
    O(n²) *within* a block, so this form is for validating candidates /
    small corpora. The production path for unlabeled 100 TB corpora is
    ``dedup_embedding_cosine_lsh`` (similarity.py): sign-LSH buckets
    propose candidates, exact cosine verifies only those pairs — the
    same propose/verify split as dedup_ngram_jaccard over MinHash.

    Cosine is computed with identical operation order on both engines
    (sequential dot then norms, all in DOUBLE) so the rounded values
    hash-match.
    """
    from .vectorized import cosine_seq_nd_udf

    # non-deterministic marker = single kernel evaluation in the
    # withColumn → filter → project tail (guide §4.4; see vectorized.py)
    cosine_seq = cosine_seq_nd_udf()
    e = load_table_parallel(spark, sf_dir, "embeddings", parts=4)
    v = e.select("vec_id", "label", "embedding")
    a = v.select(F.col("vec_id").alias("vec_a"), "label", F.col("embedding").alias("ea"))
    b = v.select(F.col("vec_id").alias("vec_b"), "label", F.col("embedding").alias("eb"))
    pairs = a.join(b, ["label"]).filter(F.col("vec_a") < F.col("vec_b"))
    return (
        pairs.withColumn("cos_raw", cosine_seq(F.col("ea"), F.col("eb")))
        .filter(F.col("cos_raw") > 0.3)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cos_sim"))
    )


# --------------------------------------------- connected-component clusters

_CC_ORACLE = f"""
    WITH RECURSIVE {_MINHASH_CTES},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS n FROM edges),
    reach(n, l) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.n
    )
    SELECT n AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY n
"""


@query("dedup_cluster_components", oracle=_CC_ORACLE, tags=("ext", "dedup", "graph"))
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the minhash
    LSH pair graph — the step that turns pairwise candidates into a
    keep-one-per-cluster dedup policy (A~B and B~C must collapse to ONE
    representative even when A~C was never proposed).

    Spark-first iterative algorithm: min-label propagation. Every round
    is one shuffle join (neighbor labels along edges) plus one min-agg;
    labels converge in O(component diameter) rounds — near-dup clusters
    are shallow, so 2-4 rounds in practice. Each round's result is
    localCheckpoint()ed: iterative self-joins otherwise stack lineage
    until planning itself dominates (the classic Spark iterative-graph
    trap). Convergence is an exact driver-side check (count of changed
    labels — a metadata-scale job per round). The DuckDB oracle computes
    the same fixpoint declaratively with a recursive CTE (min reachable
    label). Cluster id = smallest doc_id in the component.
    """
    pairs = minhash_candidate_pairs(spark, sf_dir)
    return propagate_min_labels(pairs)


def propagate_min_labels(pairs: DataFrame) -> DataFrame:
    """Min-label propagation over an undirected pair graph
    (doc_a, doc_b) → (doc_id, cluster_id). Factored out of
    dedup_cluster_components so the convergence machinery is testable
    on synthetic graphs (r17: labels near 2^62 must still converge —
    see the DECIMAL accumulation note below)."""
    # Single-pass edge expansion (r17 opt, guide §2.4): the old
    # union-of-two-selects planned the `pairs` subtree TWICE — the whole
    # minhash pipeline (scan, signature kernel, band shuffle, distinct)
    # executed double inside the one-time edges job. Exploding a 2-array
    # of (src,dst)/(dst,src) structs emits both directions from ONE
    # evaluation.
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .localCheckpoint()  # pairs pipeline runs once, not per round
    )
    # eager=False: the initial-sum collect below materializes the
    # checkpoint in the SAME job instead of paying a separate
    # materialization job first (r17 opt, guide §1/§2 — the per-round
    # cost of this query is scheduler floor × job count, not bytes).
    # r18: round 1 FUSED into initialization — after one propagation
    # round every node's label is min(n, min neighbor), and the edge
    # list is symmetric, so that value is directly one groupBy(dst)
    # min(src) over the checkpointed edges: the identity-label distinct
    # AND the first join round disappear (same exchange count as the
    # old distinct, one full join round fewer at ANY diameter; jobs
    # 19 → 15 at sf0.1, wall 1.26 → 1.09 s, identical labels on chain/
    # star/two-component/2^62-id synthetic graphs and all three SFs).
    labels = (
        edges.groupBy(F.col("dst").alias("n"))
        .agg(F.min("src").alias("m"))
        .select("n", F.least(F.col("n"), F.col("m")).alias("l"))
        .localCheckpoint(eager=False)
    )
    # Convergence statistic (r16): min-propagation is MONOTONE — every
    # node's label only ever decreases and the node set is fixed, so
    # sum(l) is unchanged iff NO label changed. One metadata-scale
    # aggregate per round replaces the old changed-count shuffle JOIN
    # of new vs old labels (a full extra shuffle per round).
    # DECIMAL(38,0) accumulation (r17, VERDICT item 4): at extreme
    # doc-id magnitudes (10^10+ ids near 2^62) a LONG sum of labels can
    # wrap modulo 2^64 and alias two different label states; the exact
    # decimal sum makes sum-unchanged <=> fixpoint airtight.
    _lsum = F.sum(F.col("l").cast("decimal(38,0)"))
    prev_sum = labels.agg(_lsum).collect()[0][0]
    for _ in range(20):  # backstop; exits on convergence below
        neighbor = (
            edges.join(labels, edges.src == labels.n)
            .select(F.col("dst").alias("n"), "l")
        )
        # eager=False fuses materialization with the convergence sum:
        # ONE job per round (compute + cache partitions + aggregate)
        # instead of an eager-checkpoint job followed by a sum job over
        # the cached blocks (r17 opt — halves the per-round job count).
        new_labels = (
            labels.union(neighbor).groupBy("n").agg(F.min("l").alias("l"))
        ).localCheckpoint(eager=False)
        new_sum = new_labels.agg(_lsum).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    return labels.select(F.col("n").alias("doc_id"), F.col("l").alias("cluster_id"))


_KEEP_CANONICAL_ORACLE = f"""
    WITH RECURSIVE {_MINHASH_CTES},
    edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION ALL
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS n FROM edges),
    reach(n, l) AS (
        SELECT n, n FROM nodes
        UNION
        SELECT e.dst, r.l FROM reach r JOIN edges e ON e.src = r.n
    ),
    clusters AS (SELECT n AS doc_id, MIN(l) AS cluster_id FROM reach GROUP BY n)
    SELECT d.doc_id,
           COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
           (c.doc_id IS NULL OR c.cluster_id = d.doc_id) AS keep
    FROM documents d LEFT JOIN clusters c USING (doc_id)
"""


@query(
    "pipeline_dedup_keep_canonical",
    oracle=_KEEP_CANONICAL_ORACLE,
    tags=("ext", "dedup", "pipeline"),
)
def pipeline_dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup POLICY: every document gets (cluster_id, keep) —
    near-dup clusters keep exactly their canonical (min doc_id) member,
    singletons keep themselves. This is the decision table a corpus
    curation job anti-joins against before training.

    Scale shape: the cluster map from dedup_cluster_components is
    O(docs-in-any-pair) — tiny next to the corpus — so the final join
    broadcasts it against the full documents scan; everything upstream
    is the already-bucketed LSH + label-propagation pipeline."""
    clusters = dedup_cluster_components(spark, sf_dir).withColumnRenamed(
        "doc_id", "c_doc"
    )
    d = load_table_parallel(spark, sf_dir, "documents", parts=8).select("doc_id")
    return (
        d.join(F.broadcast(clusters), d.doc_id == clusters.c_doc, "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
            (
                F.col("c_doc").isNull()
                | (F.col("cluster_id") == F.col("doc_id"))
            ).alias("keep"),
        )
    )


_INCREMENTAL_ORACLE = f"""
    WITH {_BANDS_CTES}, idx AS (
        SELECT doc_id, band_idx, band_val FROM bands
        WHERE doc_id % 5 <> 0
        QUALIFY COUNT(*) OVER (PARTITION BY band_idx, band_val) <= {LSH_BUCKET_CAP}
    ), probe AS (
        SELECT doc_id, band_idx, band_val FROM bands WHERE doc_id % 5 = 0
    )
    SELECT DISTINCT p.doc_id AS new_doc, i.doc_id AS corpus_doc
    FROM probe p
    JOIN idx i ON p.band_idx = i.band_idx AND p.band_val = i.band_val
"""


# sf_dir slug the in-catalog band-index table was registered from
_BAND_INDEX_BUILT: dict[str, str] = {}


def ensure_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Write-once PERSISTED LSH band index of the corpus partition
    (doc_id % 5 != 0): bucket-capped at build time, stored as a parquet
    table bucketed AND sorted on (band_idx0, band_val) under a stable
    path, so probe joins read it shuffle-free and the raw corpus text
    is never rescanned. A later process re-attaches the existing
    bucket files with metadata-only DDL — the index is maintained by
    ingest (once per corpus epoch), not by readers. Mirrors
    operators/joins.ensure_bucketed_tables. Returns the table name."""
    import re as _re
    import tempfile
    from pathlib import Path

    from pyspark.sql.window import Window

    slug = _re.sub(r"\W+", "_", sf_dir.strip("/"))
    tbl = "bkt_band_index"
    if _BAND_INDEX_BUILT.get(tbl) == slug and spark.catalog.tableExists(tbl):
        return tbl
    loc = (
        Path(tempfile.gettempdir())
        / "duckdb_pgwire_spark_bucketed"
        / slug
        / "band_index"
    )
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    if (loc / "_SUCCESS").exists():
        spark.sql(
            f"CREATE TABLE {tbl} "
            "(doc_id BIGINT, band_idx0 INT, band_val STRING) USING parquet "
            "CLUSTERED BY (band_idx0, band_val) "
            "SORTED BY (band_idx0, band_val) INTO 8 BUCKETS "
            f"LOCATION '{loc}'"
        )
    else:
        w = Window.partitionBy("band_idx0", "band_val")
        (
            _band_rows(spark, sf_dir, where=F.col("doc_id") % 5 != 0)
            .withColumn("__n", F.count("*").over(w))
            .filter(F.col("__n") <= LSH_BUCKET_CAP)  # cap = build property
            .drop("__n")
            .write.option("path", str(loc))
            .bucketBy(8, "band_idx0", "band_val")
            .sortBy("band_idx0", "band_val")
            .mode("overwrite")
            .saveAsTable(tbl)
        )
    _BAND_INDEX_BUILT[tbl] = slug
    return tbl


@query(
    "dedup_incremental_vs_index",
    oracle=_INCREMENTAL_ORACLE,
    tags=("ext", "dedup", "minhash", "incremental"),
)
def dedup_incremental_vs_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: probe a NEW document batch against the
    PERSISTED LSH band index of the existing corpus — the shape a
    continuously-ingesting training pipeline actually runs (full-corpus
    re-dedup per batch is a non-starter at 100 TB).

    The fixture split is doc_id % 5: 80% plays the indexed corpus, 20%
    the incoming batch. Scale story (r7 — the r6 version recomputed the
    index inline from raw text, the verdict's "weak-leaning done"):
    band signatures are computed for the BATCH only (the where= filter
    reaches the documents scan before the minhash kernel); the corpus
    index is the write-once bucketed table from ensure_band_index —
    probed via one join that is key-partitioned by the table's bucket
    layout, with NO exchange and NO documents scan on the index side
    (plan-asserted, tests/test_plans.py). The index-side bucket cap is
    applied at build time, exactly as an ingest pipeline would
    (mirrored in the oracle's QUALIFY).
    """
    tbl = ensure_band_index(spark, sf_dir)
    index = spark.table(tbl)
    probe = _band_rows(spark, sf_dir, where=F.col("doc_id") % 5 == 0)
    return (
        probe.alias("p")
        .join(
            index.alias("i"),
            on=["band_idx0", "band_val"],
        )
        .select(
            F.col("p.doc_id").alias("new_doc"),
            F.col("i.doc_id").alias("corpus_doc"),
        )
        .distinct()
    )


# ------------------------------------------------- SemDeDup (semantic dedup)

# Within-cluster cosine above this marks the higher-id vector a
# semantic duplicate (fixture cosines top out near 0.5; production
# SemDeDup uses ~0.95+ on real text embeddings — the threshold is data-
# dependent, the machinery is not).
SEMDEDUP_TH = 0.35
# target mean cluster size: k = max(8, n // SEMDEDUP_CELL_TARGET), so
# the within-cluster pair join stays O(n · SEMDEDUP_CELL_TARGET). At
# the sf0.01 oracle scale (500 vectors) this resolves to the oracle's
# fixed 8 centroids exactly.
SEMDEDUP_CELL_TARGET = 64


def _semdedup_oracle() -> str:
    from .similarity import N_CENTROIDS, N_LLOYD, _ivf_lloyd_cte, _ivf_sim_sql

    return f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        FROM embeddings
    ), cent0 AS (
        SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < {N_CENTROIDS}
    ), {",".join(_ivf_lloyd_cte(i) for i in range(1, N_LLOYD + 1))},
    affin AS (
        SELECT v.vec_id, c.cid, {_ivf_sim_sql("v.e", "c.ce")} AS sim
        FROM v CROSS JOIN cent{N_LLOYD} c
    ), assigned AS (
        SELECT vec_id, cid FROM affin
        QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) = 1
    ), dups AS (
        SELECT DISTINCT b.vec_id
        FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
        JOIN v va ON va.vec_id = a.vec_id
        JOIN v vb ON vb.vec_id = b.vec_id
        WHERE {_ivf_sim_sql("va.e", "vb.e")} > {SEMDEDUP_TH}
    )
    SELECT a.vec_id, a.cid AS cell, (d.vec_id IS NULL) AS kept
    FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id
    """


@query(
    "dedup_semantic_kmeans",
    oracle=_semdedup_oracle(),
    tags=("ext", "dedup", "embedding", "kmeans"),
)
def dedup_semantic_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication via k-means clustering of embeddings — cluster the
    corpus, compare pairs only WITHIN a cluster, drop the higher-id
    member of any pair above the cosine threshold (the paper keeps one
    representative per semantic duplicate group; lowest-id is the
    deterministic stand-in for its centroid-distance rule).

    Scale shape (the paper's own argument): clustering makes the
    pairwise step tractable — k GROWS WITH THE CORPUS
    (max(8, n/{SEMDEDUP_CELL_TARGET}), so mean cluster size stays
    ~{SEMDEDUP_CELL_TARGET} at any scale), making the within-cluster
    comparison O(n·cluster_size) instead of O(n²). A fixed k would make
    the pair join quadratic again at 100×. At the sf0.01 oracle scale
    the formula lands exactly on the oracle's 8 centroids, so SQL
    parity holds where the driver checks it.

    Index shape by k (r7, closing the r6 verdict's named scale-killer):
    below similarity.HIER_K_MAX_FLAT the index is exact flat k-means
    (one cached corpus, Lloyd passes as fused Arrow map stages,
    driver-held centroid matrix cached per corpus epoch — oracle-exact).
    ABOVE the cap a flat matrix is a driver-side bomb (k ∝ n means
    O(n·k·d) assignment and GBs of driver memory), so the index goes
    TWO-LEVEL: √k coarse centroids driver-held, fine centroids as a
    DataFrame cogrouped by coarse cell — assignment O(n·√k·d), driver
    memory O(√k·d) (similarity.build_hier_index / hier_assign). Either
    way assignment touches every vector once and the pair step is a
    single self-join shuffled on the cell id — no all-pairs stage
    anywhere.
    """
    from .similarity import (
        HIER_K_MAX_FLAT,
        _make_ivf_assign_udf,
        build_hier_index,
        corpus_df,
        corpus_fingerprint,
        corpus_with_centroids,
    )

    k_fn = lambda n: max(8, n // SEMDEDUP_CELL_TARGET)  # noqa: E731
    v = corpus_df(spark, sf_dir)
    fp = corpus_fingerprint(v)  # one job: branch decision + index-cache
    # key (a separate uncached count() doubled the corpus scans per
    # execution, code review r7)
    n_corpus = fp["n"]
    if k_fn(n_corpus) > HIER_K_MAX_FLAT:
        from .similarity import hier_assign

        idx = build_hier_index(spark, v, n_corpus, k_fn(n_corpus))
        asg = hier_assign(v, idx).withColumnRenamed("cell", "cell_l")
        asg = asg.select(
            "vec_id", F.col("cell_l").cast("int").alias("cell"), "embedding"
        )
    else:
        v, C = corpus_with_centroids(spark, sf_dir, k=k_fn, v=v, fp=fp)
        assign = _make_ivf_assign_udf(C)
        asg = v.withColumn("cell", assign("embedding"))
    # r17 opt (guide §2.3/§2.4): the a⋈b cell self-join evaluated the
    # Python assignment stage on BOTH join branches, shuffled the
    # embedding payload twice, materialized every within-cell pair row
    # (two full vectors each) before the cosine filter, and then
    # SortMergeJoined the dup set back onto a THIRD assignment eval
    # (two more full-corpus exchanges on vec_id — plans/r17pre). The
    # paper's own shape is "all comparisons happen inside a cell", so
    # do exactly that: ONE exchange on the cell id, and a grouped Arrow
    # kernel marks each cell's members in place. Cell population is
    # ~SEMDEDUP_CELL_TARGET by the k growth law, so the per-group
    # pairwise matrix is O(CELL_TARGET²) — bounded at any corpus size.
    # Cosines come from the same sequential-over-dims fold as the old
    # cosine_seq_udf (shared _cos_to_centroids), so every pair's double
    # is bit-identical and the SEMDEDUP_TH comparison cannot flip.
    import pandas as pd

    from .similarity import _cos_to_centroids
    import numpy as np

    def mark_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        vids = pdf["vec_id"].to_numpy()
        E = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        S = _cos_to_centroids(E, E)
        dup = ((S > SEMDEDUP_TH) & (vids[:, None] < vids[None, :])).any(
            axis=0
        )
        return pd.DataFrame(
            {"vec_id": vids, "cell": pdf["cell"].to_numpy(), "kept": ~dup}
        )

    return (
        asg.select("vec_id", "cell", "embedding")
        .groupBy("cell")
        .applyInPandas(mark_cell, "vec_id long, cell int, kept boolean")
    )
