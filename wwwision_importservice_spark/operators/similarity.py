"""Similarity search over embedding columns (SURVEY §2.9 X3).

Driver-mandated extension: approximate-nearest-neighbor over an
``array<float>`` embedding column. Two strategies:

- :func:`cosine_topk` — brute-force exact top-k. The score is a pure
  Spark SQL expression (``zip_with`` dot product + ``aggregate`` fold),
  whole-stage-codegen'd, no Python. Cost is |Q|×|C| — the baseline, and
  the right answer when |Q| is small and the corpus side broadcasts.
- :func:`cosine_topk_lsh` — sign-LSH bucketing: the first ``bits``
  dimensions' signs form a bucket key (axis-aligned random-hyperplane
  LSH); candidates come only from the query's bucket, trading recall for
  a |Q|×|C|/2^bits expected candidate count. At cluster scale, bucket
  join = one shuffle on a small key; probing multiple buckets (hamming
  ≤1 neighbors) recovers recall.

Scale notes: embeddings are pre-cast to double once (element-wise
``transform``) so all engines compute identical IEEE sums; norms are
computed once per side, not per pair. All top-k paths share
:func:`topk`, whose rank window plans with a map-side partial
WindowGroupLimit — at most k rows per query per task enter the
shuffle, so no strategy ever sorts or shuffles the full scored frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wwwision_importservice_spark.session import local_frame


#: ceiling on the |Q|·|C| scored-pair count :func:`cosine_topk` will
#: materialize through its cross join. 2e8 pairs ≈ a few GiB of scored
#: rows spread over the cluster — comfortably cheap — while the failure
#: mode this guards against (a "small" query set that is actually a
#: corpus, turning the exactness baseline into an accidental 10^13-row
#: cartesian) is caught loudly instead of running for hours. The two
#: ``count()`` jobs the guard costs are metadata-only on parquet inputs.
MAX_COSINE_PAIRS = 200_000_000


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine_scores(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vector_col: str = "embedding",
    round_to: int | None = 6,
) -> DataFrame:
    """All-pairs cosine similarity (the scoring core of both strategies)."""
    q = queries.select(
        F.col(query_id),
        _as_double(F.col(vector_col)).alias("__qv"),
    ).withColumn("__qn", _norm(F.col("__qv")))
    c = corpus.select(
        F.col(corpus_id),
        _as_double(F.col(vector_col)).alias("__cv"),
    ).withColumn("__cn", _norm(F.col("__cv")))
    # nullif: a zero-norm vector (failed encoder output / padding row)
    # must score NULL and sink in desc ordering, not Inf/NaN-rank first
    # (r11 review catch — the LSH/IVF siblings already guard this)
    score = _dot(F.col("__qv"), F.col("__cv")) / F.nullif(
        F.col("__qn") * F.col("__cn"), F.lit(0.0)
    )
    if round_to is not None:
        score = F.round(score, round_to)
    return q.crossJoin(c).select(
        F.col(query_id), F.col(corpus_id), score.alias("score")
    )


def topk(
    scored: DataFrame,
    k: int,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
) -> DataFrame:
    """Deterministic top-k per query (score desc, id asc tiebreak).

    The ``row_number → filter rank <= k`` shape is NOT a naive global
    window at execution time: Catalyst's ``InferWindowGroupLimit``
    (Spark ≥3.5) plans a **partial WindowGroupLimit before the
    exchange** — every map task locally sorts its slice and forwards at
    most k rows per query into the shuffle, then a final group limit +
    rank runs post-shuffle. So the shuffle carries ≤ k·n_tasks rows per
    query instead of the full |Q|×|C| scored frame, and no single
    reducer ever sorts a query's whole candidate set. Pinned by
    ``test_topk_truncates_before_shuffle`` (a hand-rolled two-phase
    collect_list truncation was measured strictly worse: partial
    collect_list buffers ship the *un*-truncated per-partition lists
    through the exchange)."""
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vector_col: str = "embedding",
    broadcast_corpus: bool = False,
    max_pairs: int = MAX_COSINE_PAIRS,
) -> DataFrame:
    """Brute-force exact cosine top-k (the baseline).

    Deliberately |Q|×|C|: this is the exactness reference the
    approximate strategies are measured against, and the right tool
    when the query set is genuinely small. Because a cross join fails
    *slowly* when that contract is broken, the pair count is checked up
    front against ``max_pairs`` (default :data:`MAX_COSINE_PAIRS`) and
    a too-large product raises immediately, naming the scale-safe
    alternatives — same loud-ceiling pattern as the Bloom bitmap cap in
    ``dedup.build_bloom_filter``. Pass ``max_pairs=0`` to disable (e.g.
    when both counts are already known small by construction).
    """
    if max_pairs:
        n_q, n_c = queries.count(), corpus.count()
        if n_q * n_c > max_pairs:
            raise ValueError(
                f"cosine_topk: |Q|·|C| = {n_q}·{n_c} = {n_q * n_c:,} scored "
                f"pairs exceeds the {max_pairs:,} cross-join ceiling. This "
                "operator is the exact brute-force baseline for SMALL query "
                "sets; at this scale use cosine_topk_blocked (exact, "
                "corpus-scan, no join), cosine_topk_lsh (approximate, "
                "bucketed), or annindex.build_ivf_index/search_ivf "
                "(approximate, partition-pruned) — or raise max_pairs if "
                "this pair count is genuinely intended"
            )
    # Spread the query side before the cross join (r14, measured via
    # stage metrics): each query row fans out to |C| scored pairs, so a
    # query set sitting in fewer partitions than the session has cores
    # (the 1-partition case for a small filter of a single-file scan)
    # serializes the whole |Q|×|C| dot-product pass onto those few
    # tasks — 0.48s of a 0.95s query inside ONE task at sf0.1. The
    # repartition moves only |Q| small rows and is skipped whenever the
    # scan already has enough splits (same scale-adaptive pattern as
    # entry_queries.load(spread=True)).
    parallelism = queries.sparkSession.sparkContext.defaultParallelism
    if queries.rdd.getNumPartitions() < parallelism:
        queries = queries.repartition(parallelism)
    c = F.broadcast(corpus) if broadcast_corpus else corpus
    scored = cosine_scores(queries, c, query_id, corpus_id, vector_col)
    return topk(scored, k, query_id, corpus_id)


def cosine_topk_blocked(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k, corpus-scan shape — the 100 TB form of the
    brute-force baseline.

    :func:`cosine_topk` expresses exactness as a cross join, which
    plans as BroadcastNestedLoopJoin and materializes |Q|x|C| scored
    rows through the join operator. Same answer, different physics
    here: the (small, by contract) query set is collected once and
    closed over as a numpy matrix; the corpus streams through ONE
    Arrow-batched ``mapInPandas`` pass that scores each ~10k-row batch
    against all queries with a vectorized matmul and keeps only a
    per-batch top-k per query. The global reduce then ranks
    |batches|·|Q|·k candidate rows — the full scored frame never
    exists anywhere, no join, no shuffle except the final tiny rank.

    Selection inside the kernel mirrors the final rank's criterion
    (score rounded to 6, corpus-id tiebreak). numpy's round is
    half-even on the binary double while Spark's is half-up on its
    shortest decimal form — distinguishable only when an unrounded
    score sits exactly on a 0.5e-6 decimal boundary — so the kernel
    keeps a small margin beyond k per batch; a boundary-straddling
    candidate survives into the global rank, where F.round alone
    decides.
    """
    q_rows = queries.select(query_id, vector_col).collect()
    q_ids = [r[query_id] for r in q_rows]
    q_mat = [[float(x) for x in r[vector_col]] for r in q_rows]
    vec = vector_col
    cid = corpus_id

    # id types from the INPUT schemas, not hardcoded longs (r11 review
    # catch: string ids — accepted by every sibling operator — crashed
    # the kernel's int64 casts)
    qid_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    out_schema = f"{query_id} {qid_type}, {cid} {cid_type}, score double"

    if not q_rows:
        return (
            local_frame(corpus.sparkSession, out_schema)
            .withColumn("rank", F.lit(1).cast("int"))
            .limit(0)
        )

    def score_batches(it):
        import numpy as np
        import pandas as pd

        Q = np.asarray(q_mat, dtype=np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        qid_arr = np.asarray(q_ids)
        for pdf in it:
            if not len(pdf):
                continue
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec]]
            )
            cn = np.sqrt((V * V).sum(axis=1))
            cids = pdf[cid].to_numpy()
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (Q @ V.T) / np.outer(qn, cn)
            # zero-norm rows (failed encoder output) divide to NaN,
            # which Spark's desc sort ranks ABOVE every real score —
            # exclude them like the expression paths' nullif does
            # (r11 review catch)
            S = np.where(np.isfinite(S), S, -np.inf)
            R = np.round(S, 6)  # selection key — final F.round decides
            keep = k + 8  # margin for np-vs-Spark rounding boundary ties
            rows_q, rows_c, rows_s = [], [], []
            for qi in range(len(qid_arr)):
                order = np.lexsort((cids, -R[qi]))[:keep]
                rows_q.extend([qid_arr[qi]] * len(order))
                rows_c.extend(cids[order])
                rows_s.extend(S[qi][order])
            yield pd.DataFrame(
                {query_id: rows_q, cid: rows_c, "score": rows_s}
            )

    candidates = corpus.select(cid, vec).mapInPandas(
        score_batches, schema=out_schema
    )
    scored = candidates.select(
        query_id, cid, F.round(F.col("score"), 6).alias("score")
    )
    return topk(scored, k, query_id, cid)


def sign_bucket(vector_col: Column, bits: int = 8) -> Column:
    """Axis-aligned sign-LSH bucket: bit i = (v[i] > 0), over the first
    ``bits`` dimensions — a fixed, portable hyperplane family."""
    bucket = F.lit(0)
    for i in range(bits):
        bucket = bucket + F.when(
            F.element_at(vector_col, i + 1) > 0, F.lit(2**i)
        ).otherwise(F.lit(0))
    return bucket.cast("int")


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vector_col: str = "embedding",
    bits: int = 8,
    probe_hamming: int = 0,
) -> DataFrame:
    """ANN top-k: candidates restricted to the query's sign-LSH bucket.

    Recall < 1 by construction (near neighbors can land across a
    hyperplane); the exact :func:`cosine_topk` is the ground truth.

    ``probe_hamming=1`` enables **multi-probe**: each query also probes
    every bucket at hamming distance 1 (one sign flipped) — the
    classic recall lever for a near neighbor sitting just across a
    single hyperplane. Candidate volume grows ×(bits+1) on the query
    side only; the corpus keeps exactly one bucket per vector, so no
    candidate pair is generated twice and no dedup pass is needed."""
    q = queries.withColumn("__bkt0", sign_bucket(F.col(vector_col), bits))
    if probe_hamming >= 1:
        probes = F.array(
            F.col("__bkt0"),
            *[F.col("__bkt0").bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
        )
    else:
        probes = F.array(F.col("__bkt0"))
    q = q.withColumn("__bkt", F.explode(probes))
    c = corpus.withColumn("__bkt", sign_bucket(F.col(vector_col), bits))
    qd = q.select(
        query_id,
        "__bkt",
        _as_double(F.col(vector_col)).alias("__qv"),
    ).withColumn("__qn", _norm(F.col("__qv")))
    cd = c.select(
        corpus_id,
        "__bkt",
        _as_double(F.col(vector_col)).alias("__cv"),
    ).withColumn("__cn", _norm(F.col("__cv")))
    score = F.round(
        _dot(F.col("__qv"), F.col("__cv"))
        / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
        6,
    )
    scored = qd.join(cd, "__bkt").select(
        F.col(query_id), F.col(corpus_id), score.alias("score")
    )
    return topk(scored, k, query_id, corpus_id)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    vector_col: str = "embedding",
    threshold: float = 0.3,
    bits: int = 8,
    probe_hamming: int = 0,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(id_a < id_b, cosine)``
    for pairs with cosine ≥ ``threshold``, blocked by sign-LSH bucket.

    The all-pairs O(n²) is cut to per-bucket pairs (expected n²/2^bits).
    ``probe_hamming=1`` raises recall by ALSO replicating every vector
    into its ``bits`` hamming-1 neighbor buckets, so two vectors
    co-occur iff their buckets differ by ≤ 2 bits. Candidate pairs
    expand in-array after ONE group-by on the bucket key — no
    self-join — carrying IDS ONLY: shuffling the (replicated) vectors
    through collect_list would move 64 doubles per member where 1 long
    suffices, so vectors rejoin the deduped pair list afterwards (two
    id-key joins against the original frame) and the cosine is computed
    once per surviving pair.

    **No pair-dedup shuffle** (r14, guide §2.4): a probed pair meets in
    up to 3 buckets, but which buckets is a CLOSED FORM of the two
    members' base buckets (d = b0a⊕b0b, popcount(d) ≤ 2 by
    co-occurrence: d=0 → shared = {b0a} plus every hamming-1 neighbor;
    |d|=1 → {b0a, b0b}; |d|=2 with bits i,j → {b0a⊕i, b0a⊕j}), so each
    pair is emitted ONLY from its canonical (minimum, with the d=0 case
    canonically at b0a) shared bucket — exactly once, in-array, during
    pair expansion. The previous shape deduped with ``.distinct()``: a
    full shuffle of the ~2.2×-replicated candidate pair stream, the
    operator's largest exchange at corpus scale. Pair sets are
    identical (pinned by ``test_embedding_near_dup_canonical_bucket_
    matches_distinct``).

    Recall < 1 by construction; measure it per
    corpus — on a near-isotropic synthetic corpus the registered-query
    grid (tests/test_extensions.py) puts bits=6/probe=1 at 0.55 recall
    for 0.34 candidate volume, and real near-dup corpora (cos ≥ 0.9)
    separate far better.
    """
    bucket0 = sign_bucket(F.col(vector_col), bits)
    if probe_hamming >= 1:
        buckets = F.explode(
            F.array(
                bucket0,
                *[bucket0.bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
            )
        )
        keyed = df.select(
            F.col(id_col), bucket0.alias("__b0"), buckets.alias("__bkt")
        )
    else:
        # one bucket per vector → a pair can only meet once; no dedup
        # filter needed at all
        keyed = df.select(
            F.col(id_col), bucket0.alias("__b0"), bucket0.alias("__bkt")
        )

    grouped = (
        keyed.groupBy("__bkt")
        .agg(
            F.collect_list(
                F.struct(F.col(id_col).alias("id"), F.col("__b0").alias("b0"))
            ).alias("ids")
        )
        .filter(F.size("ids") > 1)
    )

    def _canonical_shared_bucket(b0a: Column, b0b: Column) -> Column:
        d = b0a.bitwiseXOR(b0b)
        low = d.bitwiseAND(-d)  # lowest set bit
        return (
            F.when(d == 0, b0a)
            .when(d.bitwiseAND(d - 1) == 0, F.least(b0a, b0b))
            .otherwise(
                F.least(
                    b0a.bitwiseXOR(low), b0a.bitwiseXOR(d.bitwiseXOR(low))
                )
            )
        )

    if probe_hamming >= 1:
        def _partner(a):
            return F.filter(
                "ids",
                lambda b: (b["id"] > a["id"])
                & (_canonical_shared_bucket(a["b0"], b["b0"]) == F.col("__bkt")),
            )
    else:
        def _partner(a):
            return F.filter("ids", lambda b: b["id"] > a["id"])

    pairs_arr = F.flatten(
        F.transform(
            "ids",
            lambda a: F.transform(
                _partner(a),
                lambda b: F.struct(a["id"].alias("id_a"), b["id"].alias("id_b")),
            ),
        )
    )
    # Spread the pair expansion AND the downstream cosine work (r14,
    # measured via stage metrics): the aggregated bucket rows are FEW
    # and tiny in bytes but each explodes into ~|bucket|²/2 candidate
    # comparisons and then a per-pair dot product — AQE's partition
    # coalescing is bytes-blind to that derived work and squashed the
    # whole expansion + join + cosine pipeline into ONE task (4.3s of a
    # 6.5s query on one core at sf0.1). A user repartition is exempt
    # from AQE coalescing, so the expansion fans out over the session's
    # parallelism; the exchange moves only the bucket-member arrays
    # (KBs here; ∝ touched-bucket width at scale — the same rows the
    # group-by already shuffled once).
    grouped = grouped.repartition(
        df.sparkSession.sparkContext.defaultParallelism
    )
    cand = (
        grouped.select(F.explode(pairs_arr).alias("p"))
        .select("p.id_a", "p.id_b")
    )

    vecs = df.select(
        F.col(id_col),
        _as_double(F.col(vector_col)).alias("__v"),
    ).withColumn("__n", _norm(F.col("__v")))
    a = vecs.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    cos = F.round(
        _dot(F.col("__va"), F.col("__vb"))
        / F.nullif(F.col("__na") * F.col("__nb"), F.lit(0.0)), 6
    )
    # MERGE-hinted re-attach joins (r14, measured via stage metrics):
    # the static planner sees a tiny size estimate for the
    # aggregate+explode candidate pipeline and BROADCAST it, streaming
    # the single-partition vector scan — which serialized every
    # per-pair dot product onto one core (4.3s of a 6.5s query inside
    # one task at sf0.1). The shuffle-merge hint is also the only
    # strategy that exists at corpus scale (candidate pairs ∝ corpus ×
    # dup rate can never broadcast, and a vector side past the 10 MB
    # auto threshold would plan SMJ anyway); with it the cosine work
    # rides the join's shuffle partitions. sf0.1, warm best-of-3:
    # 2.40s (r13 shape) → 1.38s, with the dot/cosine arithmetic and
    # output rows bit-identical.
    return (
        cand.join(a.hint("merge"), "id_a")
        .join(b.hint("merge"), "id_b")
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def semantic_decontaminate(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str,
    vector_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
) -> DataFrame:
    """SEMANTIC decontamination: drop every corpus row whose embedding
    cosine to ANY eval item is ≥ ``threshold`` — the third member of
    the decontamination trio (exact key: ``dedup.bloom_verified_anti_
    join``; 13-gram overlap: ``dedup.ngram_decontaminate``; this one
    catches paraphrases neither lexical form can see).

    Candidates are sign-LSH blocked: the EVAL side (small by the
    operator's contract) is replicated into its own bucket plus every
    hamming-1 neighbor and BROADCAST, so a corpus row meets an eval
    item iff their ``bits``-bit sign buckets differ by ≤ 1 bit —
    recall < 1 by construction, like every LSH operator here; measure
    per corpus and raise ``bits``' probe radius by replicating further
    if the eval set's paraphrase distance demands it.

    Scale shape (mirrors ``ngram_decontaminate``): the corpus is ONE
    map pass — bucket + broadcast hash join + per-candidate cosine,
    no corpus shuffle, no pair materialization beyond the (corpus row,
    eval item) candidates the buckets admit (expected |C|·|E|·(bits+1)
    / 2^bits). Only contaminated ids shuffle for the distinct; the
    anti-join AQE-broadcasts when the contaminated set is small."""
    contaminated = semantic_contaminated_ids(
        corpus, evalset, id_col, vector_col, threshold, bits
    )
    return corpus.join(contaminated, id_col, "left_anti")


def semantic_contaminated_ids(
    corpus: DataFrame,
    evalset: DataFrame,
    id_col: str,
    vector_col: str = "embedding",
    threshold: float = 0.9,
    bits: int = 8,
) -> DataFrame:
    """The distinct ids :func:`semantic_decontaminate` would drop —
    exposed separately so pipelines whose embeddings live in a SIDE
    table (vectors keyed by the doc id, not a column of the corpus
    frame) can anti-join the id set against the document frame without
    round-tripping through the vector frame twice."""
    evec = evalset.select(
        _as_double(F.col(vector_col)).alias("__ev")
    ).withColumn("__en", _norm(F.col("__ev")))
    b0 = sign_bucket(F.col("__ev"), bits)
    ebkt = evec.select(
        F.explode(
            F.array(b0, *[b0.bitwiseXOR(F.lit(1 << i)) for i in range(bits)])
        ).alias("__bkt"),
        "__ev",
        "__en",
    )
    cvec = (
        corpus.select(F.col(id_col), _as_double(F.col(vector_col)).alias("__cv"))
        .withColumn("__cn", _norm(F.col("__cv")))
        .withColumn("__bkt", sign_bucket(F.col("__cv"), bits))
    )
    cos = F.round(
        _dot(F.col("__cv"), F.col("__ev"))
        / F.nullif(F.col("__cn") * F.col("__en"), F.lit(0.0)), 6
    )
    return (
        cvec.join(F.broadcast(ebkt), "__bkt")
        .filter(cos >= F.lit(threshold))
        .select(id_col)
        .distinct()
    )


def assign_cells(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vector_col: str = "embedding",
    centroid_id: str = "cell",
    nprobe: int = 1,
    keep_sim: bool = False,
) -> DataFrame:
    """IVF cell assignment: nearest ``nprobe`` centroids by cosine.

    Centroids are a small frame → broadcast cross join (no shuffle of
    the big side), then a per-id rank window. Output: (id, vector,
    norm, cell, cell_rank ≤ nprobe); ``keep_sim=True`` appends the
    rounded-6dp cosine to the assigned centroid as ``__sim`` (used by
    semantic dedup, which ranks cluster members by centrality).
    """
    v = df.select(
        F.col(id_col), _as_double(F.col(vector_col)).alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    c = F.broadcast(
        centroids.select(
            F.col(centroid_id),
            _as_double(F.col(vector_col)).alias("__cv"),
        ).withColumn("__cn", _norm(F.col("__cv")))
    )
    # nullif guards the zero-norm degenerate (an all-zero embedding —
    # failed encoder output, padding row): under Spark 4's ANSI default
    # a bare 0-division aborts the job; with the guard the sim is NULL,
    # NULLs rank last, and the vector lands deterministically in the
    # lowest cell id (same guard train_ivf_centroids always had)
    sim = _dot(F.col("__v"), F.col("__cv")) / F.nullif(
        F.col("__n") * F.col("__cn"), F.lit(0.0)
    )
    scored = v.crossJoin(c).select(
        F.col(id_col),
        F.col("__v"),
        F.col("__n"),
        F.col(centroid_id),
        F.round(sim, 6).alias("__sim"),
    )
    # top-nprobe cells per vector via row_number: InferWindowGroupLimit
    # plants a Partial WindowGroupLimit before the exchange, so each map
    # task forwards ≤nprobe rows per id — the partial-argmax shuffle
    # bound — while a max_by(struct(...vector...)) aggregate would fall
    # back to SortAggregate (var-width buffer) and sort twice. This is
    # the corpus-side path, the big side at scale.
    w = Window.partitionBy(id_col).orderBy(
        F.col("__sim").desc(), F.col(centroid_id).asc()
    )
    out_cols = [id_col, "__v", "__n", centroid_id, "__cell_rank"]
    if keep_sim:
        out_cols.append("__sim")
    return (
        scored.withColumn("__cell_rank", F.row_number().over(w))
        .filter(F.col("__cell_rank") <= nprobe)
        .select(*out_cols)
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int,
    id_col: str,
    vector_col: str = "embedding",
    iterations: int = 5,
    centroid_id: str = "cell",
    sample_fraction: float | None = None,
) -> DataFrame:
    """Lloyd's k-means over the corpus → the IVF centroid table
    (``cell``, ``embedding``), expressed as pure DataFrame ops.

    Per iteration: assign every (sampled) vector to its nearest centroid
    — a broadcast of the small centroid table, zero shuffle of the big
    side — then recompute each centroid as the element-wise mean of its
    members via one hash aggregate on ``cell`` with ``dim`` scalar sum
    buffers (``sum(v[i])`` per dimension): map-side partial sums mean
    the shuffle carries one d-vector of partials per (task, cell), not
    member vectors. Empty cells keep their previous centroid.
    Initialization is deterministic: the ``n_cells`` vectors with the
    smallest md5(id) — uniform over the corpus, reproducible across
    retries (same argument as hash_split).

    At 100 TB: train on a hash-sample (``sample_fraction``) — centroid
    quality needs a representative sample, not the full corpus — then
    assign the full corpus once with :func:`assign_cells`.
    """
    pool = corpus.select(
        F.col(id_col), _as_double(F.col(vector_col)).alias("__v")
    )
    if sample_fraction is not None:
        pool = pool.filter(
            F.pmod(
                F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast("long"),
                F.lit(1_000_000),
            )
            < int(sample_fraction * 1_000_000)
        )
    pool = pool.localCheckpoint(eager=False)
    first = pool.select(F.size("__v").alias("d")).first()
    if first is None:
        raise ValueError("train_ivf_centroids: empty corpus/sample")
    dim = first["d"]

    centroids = (
        pool.withColumn(
            "__rk", F.md5(F.col(id_col).cast("string"))
        )
        .orderBy("__rk")
        .limit(n_cells)
        .select(
            (F.row_number().over(Window.orderBy("__rk")) - 1).alias(centroid_id),
            F.col("__v").alias("__cv"),
        )
    )

    for _ in range(iterations):
        c = F.broadcast(centroids.withColumn("__cn", _norm(F.col("__cv"))))
        sim = _dot(F.col("__v"), F.col("__cv")) / (
            F.nullif(_norm(F.col("__v")) * F.col("__cn"), F.lit(0.0))
        )
        assigned = (
            pool.crossJoin(c)
            .groupBy(id_col)
            .agg(
                F.max_by(
                    F.struct(F.col(centroid_id).alias("cell_"), F.col("__v").alias("v_")),
                    F.struct(sim.alias("s"), (-F.col(centroid_id)).alias("nc")),
                ).alias("__best")
            )
            .select(
                F.col("__best.cell_").alias(centroid_id),
                F.col("__best.v_").alias("__v"),
            )
        )
        # element-wise mean per cell: one sum buffer per dimension —
        # partial aggregation keeps the shuffle at one d-vector of
        # partial sums per (task, cell)
        means = (
            assigned.groupBy(centroid_id)
            .agg(
                *[
                    F.sum(F.element_at("__v", i + 1)).alias(f"__s{i}")
                    for i in range(dim)
                ],
                F.count(F.lit(1)).alias("__n"),
            )
            .select(
                F.col(centroid_id),
                F.array(
                    *[F.col(f"__s{i}") / F.col("__n") for i in range(dim)]
                ).alias("__new"),
            )
        )
        centroids = (
            centroids.join(means, centroid_id, "left")
            .select(
                F.col(centroid_id),
                F.coalesce(F.col("__new"), F.col("__cv")).alias("__cv"),
            )
            .localCheckpoint(eager=True)
        )

    return centroids.select(
        F.col(centroid_id), F.col("__cv").alias(vector_col)
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vector_col: str = "embedding",
    centroid_id: str = "cell",
    nprobe: int = 2,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors are sharded into inverted lists by
    nearest centroid; a query exhaustively scores only the lists of its
    ``nprobe`` nearest cells.

    This is the classic IVF-flat scale path: the corpus-side assignment
    is one broadcast pass (done once, reusable across query batches),
    and the search join shuffles on the cell id — candidate count is
    ~|C|·nprobe/n_cells per query instead of |C|.
    """
    c_cells = assign_cells(
        corpus, centroids, corpus_id, vector_col, centroid_id, nprobe=1
    ).select(corpus_id, F.col(centroid_id), F.col("__v").alias("__cv"), F.col("__n").alias("__cn"))
    q_cells = assign_cells(
        queries, centroids, query_id, vector_col, centroid_id, nprobe=nprobe
    ).select(query_id, F.col(centroid_id), F.col("__v").alias("__qv"), F.col("__n").alias("__qn"))

    score = F.round(
        _dot(F.col("__qv"), F.col("__cv"))
        / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
        6,
    )
    # no distinct needed: a corpus vector lives in exactly one cell
    # (nprobe=1 on the corpus side), so each (query, candidate) pair
    # appears at most once even when the query probes several cells
    scored = q_cells.join(c_cells, centroid_id).select(
        F.col(query_id), F.col(corpus_id), score.alias("score")
    )
    return topk(scored, k, query_id, corpus_id)


def quantize_embeddings(
    df: DataFrame,
    id_col: str,
    vector_col: str = "embedding",
) -> DataFrame:
    """Per-vector min-max scalar quantization to 8-bit codes — the
    standard memory step before ANN at scale (4× smaller than float32,
    ~16× smaller than the double-precision working form; recall loss is
    bounded by the per-vector span / 256 quantization step).

    Emits ``codes`` (array<int> in [0, 255]), ``offset`` (the vector
    min) and ``scale`` (span / 256): dequantize as
    ``offset + (code + 0.5) * scale``. A constant vector (span 0)
    quantizes to all-zero codes with scale 0.

    Everything is expression-level (``transform``/``array_min``/
    ``array_max``), codegen'd, shuffle-free — and deterministic across
    engines: float→double widening is exact, the arithmetic is IEEE
    double, and the cut uses ``floor`` (never ``round``, whose tie
    behavior differs between engines).
    """
    v = F.transform(F.col(vector_col), lambda x: x.cast("double"))
    tmp = df.select(
        F.col(id_col),
        v.alias("__v"),
        F.array_min(v).alias("__mn"),
        (F.array_max(v) - F.array_min(v)).alias("__span"),
    )
    codes = F.when(
        F.col("__span") > 0,
        F.transform(
            F.col("__v"),
            lambda x: F.least(
                F.floor((x - F.col("__mn")) / F.col("__span") * 256), F.lit(255)
            ).cast("int"),
        ),
    ).otherwise(F.transform(F.col("__v"), lambda x: F.lit(0)))
    return tmp.select(
        F.col(id_col),
        codes.alias("codes"),
        F.col("__mn").alias("offset"),
        (F.col("__span") / 256).alias("scale"),
    )


def cosine_topk_quantized(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vector_col: str = "embedding",
    broadcast_corpus: bool = False,
) -> DataFrame:
    """Asymmetric quantized top-k: full-precision queries scored against
    the int8-quantized corpus (codes dequantized on the fly inside the
    dot product). The corpus side carries 4× less data than float32 —
    at 100 TB of embeddings that is the difference between a corpus that
    broadcasts / fits the page cache and one that doesn't — while
    queries (the small side) stay exact. Recall loss is bounded by the
    per-vector quantization step (see :func:`quantize_embeddings`);
    the recall-vs-exact test pins it ≥0.8 at k=5 on the testdata.
    """
    qz = quantize_embeddings(corpus, corpus_id, vector_col)
    c = F.broadcast(qz) if broadcast_corpus else qz
    q = queries.select(
        F.col(query_id),
        _as_double(F.col(vector_col)).alias("__qv"),
    ).withColumn("__qn", _norm(F.col("__qv")))
    # dequantized corpus vector: offset + (code + 0.5) * scale
    deq = F.transform(
        F.col("codes"),
        lambda cd: F.col("offset") + (cd.cast("double") + F.lit(0.5)) * F.col("scale"),
    )
    scored = q.crossJoin(c).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            _dot(F.col("__qv"), deq)
            / F.nullif(F.col("__qn") * _norm(deq), F.lit(0.0)), 6
        ).alias("score"),
    )
    return topk(scored, k, query_id, corpus_id)


# --------------------------------------------------------------------------- #
# Product quantization (PQ) — the IVF-PQ compression half
# --------------------------------------------------------------------------- #

def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vector_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    iterations: int = 4,
    sample_fraction: float | None = None,
) -> DataFrame:
    """Train PQ codebooks: split the d-dim space into ``m`` contiguous
    subspaces and k-means each independently (classic PQ — Jégou,
    Douze & Schmid, "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011; public literature). Returns (``subspace``, ``code``,
    ``vector_col``) with ``m × n_codes`` rows — kilobytes, always
    broadcastable.

    Reuses :func:`train_ivf_centroids` verbatim per subspace slice: the
    deterministic md5-seeded Lloyd's loop, the broadcast-assign /
    hash-aggregate-mean shape, and the hash-sample trick all carry
    over. d must divide evenly by ``m``.
    """
    first = corpus.select(F.size(F.col(vector_col)).alias("d")).first()
    if first is None:
        raise ValueError("train_pq_codebooks: empty corpus")
    dim = first["d"]
    if dim % m:
        raise ValueError(f"train_pq_codebooks: dim {dim} not divisible by m={m}")
    sub = dim // m
    books = []
    for j in range(m):
        sliced = corpus.select(
            F.col(id_col),
            F.slice(_as_double(F.col(vector_col)), j * sub + 1, sub).alias(
                vector_col
            ),
        )
        cb = train_ivf_centroids(
            sliced,
            n_cells=n_codes,
            id_col=id_col,
            vector_col=vector_col,
            iterations=iterations,
            centroid_id="code",
            sample_fraction=sample_fraction,
        )
        books.append(cb.select(F.lit(j).alias("subspace"), "code", vector_col))
    out = books[0]
    for b in books[1:]:
        out = out.unionByName(b)
    return out


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str,
    vector_col: str = "embedding",
) -> DataFrame:
    """Encode each vector as ``m`` codebook indices (nearest codeword
    per subspace by EUCLIDEAN distance — PQ compresses the vector
    itself, so the assignment metric is L2 even when the search metric
    is cosine) plus the exact vector norm (kept full-precision: ADC
    reconstructs dot products, and dividing by the true norm keeps the
    score a proper cosine estimate).

    Output: (id, ``codes`` array<int> length m, ``norm`` double) —
    with m=8, 16 codes that is 8 small ints + 1 double per vector vs
    64 floats: the ~16-32× compression that lets a 100 TB embedding
    corpus live in page cache. One explode (×m) + one broadcast join +
    one argmin aggregate + one group-back; the wide vectors never
    shuffle (the explode carries only the subvector).
    """
    mrow = codebooks.agg(
        F.max("subspace").alias("mm"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    m = int(mrow["mm"]) + 1
    v = corpus.select(
        F.col(id_col), _as_double(F.col(vector_col)).alias("__v")
    ).withColumn("__n", _norm(F.col("__v")))
    sub_len = F.size("__v") / m
    parts = v.select(
        F.col(id_col),
        F.col("__n"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("subspace"),
                    F.slice(
                        F.col("__v"),
                        (j * sub_len + 1).cast("int"),
                        sub_len.cast("int"),
                    ).alias("sv"),
                ),
            )
        ).alias("p"),
    ).select(id_col, "__n", F.col("p.subspace").alias("subspace"), F.col("p.sv").alias("sv"))
    cb = F.broadcast(
        codebooks.select(
            "subspace", "code", _as_double(F.col(vector_col)).alias("cv")
        )
    )
    # squared L2 = |s|^2 - 2 s·c + |c|^2; |s|^2 is constant per (id,
    # subspace) so argmin reduces to argmin(|c|^2 - 2 s·c)
    dist = _dot(F.col("cv"), F.col("cv")) - F.lit(2.0) * _dot(
        F.col("sv"), F.col("cv")
    )
    best = (
        parts.join(cb, "subspace")
        .groupBy(id_col, "subspace")
        .agg(
            F.min_by(
                F.col("code"), F.struct(dist.alias("d"), F.col("code").alias("c"))
            ).alias("code"),
            F.first("__n").alias("__n"),
        )
    )
    return (
        best.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("subspace", "code"))),
                lambda s: s["code"],
            ).alias("codes"),
            F.first("__n").alias("norm"),
        )
    )


def cosine_topk_pq(
    queries: DataFrame,
    encoded_corpus: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k: full-precision
    queries against the PQ-encoded corpus. Per query, a lookup table
    LUT[j·n_codes + code] = q_subⱼ · codewordⱼ,code is precomputed
    against the broadcast codebooks (|Q| × m × n_codes doubles — tiny);
    a corpus row's approximate dot product is then m array lookups
    summed, and the cosine estimate divides by the stored exact norm.

    Scale shape: the corpus side streams its (codes, norm) rows through
    ONE broadcast nested-loop pass over the LUT table — same join
    geometry as the exact cross-join baseline but each score costs m
    lookups instead of d multiplies on 16-32× less corpus data. Compose
    with IVF cell routing (:func:`assign_cells`) for the full IVF-PQ
    shape when even a scan is too much.
    """
    luts, m, n_codes = pq_query_luts(queries, codebooks, query_id, vector_col)
    scored = encoded_corpus.crossJoin(F.broadcast(luts)).select(
        F.col(query_id),
        F.col(corpus_id),
        F.round(
            adc_dot(m, n_codes)
            / F.nullif(F.col("__qn") * F.col("norm"), F.lit(0.0)), 6
        ).alias("score"),
    )
    return topk(scored, k, query_id, corpus_id)


def pq_query_luts(
    queries: DataFrame,
    codebooks: DataFrame,
    query_id: str = "q_id",
    vector_col: str = "embedding",
) -> tuple[DataFrame, int, int]:
    """Per-query ADC lookup tables against broadcast codebooks:
    ``(q_id, __lut array<double> ordered by (subspace, code), __qn)``
    plus the ``(m, n_codes)`` geometry. |Q| × m × n_codes doubles —
    tiny, meant to be broadcast against the encoded corpus. Shared by
    :func:`cosine_topk_pq` (full-scan ADC) and the persisted IVF-PQ
    index (``annindex.py`` — cell-routed ADC)."""
    nrow = codebooks.agg(
        F.max("subspace").alias("mm"), F.max("code").alias("mc")
    ).first()
    m = int(nrow["mm"]) + 1
    n_codes = int(nrow["mc"]) + 1

    q = queries.select(
        F.col(query_id), _as_double(F.col(vector_col)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    sub_len = F.size("__qv") / m
    cb = F.broadcast(
        codebooks.select(
            "subspace", "code", _as_double(F.col(vector_col)).alias("cv")
        )
    )
    qparts = q.select(
        F.col(query_id),
        F.col("__qn"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("subspace"),
                    F.slice(
                        F.col("__qv"),
                        (j * sub_len + 1).cast("int"),
                        sub_len.cast("int"),
                    ).alias("qs"),
                ),
            )
        ).alias("p"),
    ).select(query_id, "__qn", F.col("p.subspace").alias("subspace"), F.col("p.qs").alias("qs"))
    # LUT as one flat array ordered by (subspace, code)
    luts = (
        qparts.join(cb, "subspace")
        .groupBy(query_id)
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "subspace",
                            "code",
                            _dot(F.col("qs"), F.col("cv")).alias("dp"),
                        )
                    )
                ),
                lambda s: s["dp"],
            ).alias("__lut"),
            F.first("__qn").alias("__qn"),
        )
    )
    return luts, m, n_codes


def adc_dot(m: int, n_codes: int):
    """The ADC dot-product expression over (``__lut``, ``codes``)
    columns: m flat-array lookups summed in fixed order
    (deterministic float association)."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("__lut"),
            (j * n_codes + F.element_at(F.col("codes"), j + 1) + 1).cast("int"),
        ),
    )


def cosine_topk_pq_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    encoded_corpus: DataFrame,
    codebooks: DataFrame,
    k: int = 10,
    overfetch: int = 4,
    query_id: str = "q_id",
    corpus_id: str = "c_id",
    vector_col: str = "embedding",
) -> DataFrame:
    """The production PQ pattern: ADC over-fetches ``k·overfetch``
    candidates from the compressed corpus, then ONLY those candidates'
    full vectors are read back and scored exactly. The expensive exact
    dot products run on |Q|·k·overfetch rows instead of |Q|·|C|, and
    the full-precision corpus is touched via a semi-join the optimizer
    can push down — the classic recall-repair step that turns PQ's
    lossy shortlist into near-exact top-k (measured: mean recall@10
    0.49 raw ADC → ≥0.9 with overfetch=8 on the testdata embeddings).
    """
    shortlist = cosine_topk_pq(
        queries,
        encoded_corpus,
        codebooks,
        k=k * overfetch,
        query_id=query_id,
        corpus_id=corpus_id,
        vector_col=vector_col,
    ).select(query_id, corpus_id)
    q = queries.select(
        F.col(query_id), _as_double(F.col(vector_col)).alias("__qv")
    ).withColumn("__qn", _norm(F.col("__qv")))
    c = corpus.select(
        F.col(corpus_id), _as_double(F.col(vector_col)).alias("__cv")
    ).withColumn("__cn", _norm(F.col("__cv")))
    exact = (
        shortlist.join(c, corpus_id)
        .join(F.broadcast(q), query_id)
        .select(
            F.col(query_id),
            F.col(corpus_id),
            F.round(
                _dot(F.col("__qv"), F.col("__cv"))
                / F.nullif(F.col("__qn") * F.col("__cn"), F.lit(0.0)),
                6,
            ).alias("score"),
        )
    )
    return topk(exact, k, query_id, corpus_id)
