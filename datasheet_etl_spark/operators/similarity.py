"""Similarity search over embedding columns (array<float>).

- ``cosine``          : pure-expression cosine (zip_with dot product in
                        double) — no UDF, codegen'd.
- ``brute_force_topk``: probes broadcast against the corpus — the exact
                        baseline. Corpus never shuffles; cost is
                        |probes|·|corpus|·dim map-side work.
- ``ivf_topk``        : inverted-file ANN with a deterministic coarse
                        quantizer (per-label centroids): probe → nearest
                        nprobe centroids → search only those partitions.
                        At 100 TB this is the shape that works: the
                        corpus is pre-partitioned by centroid id
                        (partition pruning on the cell column), and each
                        probe touches nprobe/ncells of the data.
- ``hyperplane_lsh_pairs``: random-hyperplane signatures (SimHash over
                        the vector) for all-pairs near-dup at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from datasheet_etl_spark.caching import scoped_persist
from datasheet_etl_spark.operators.relational import (
    cap_buckets,
    top_k_per_group,
)


def cosine_pairs_vectorized(
    corpus: DataFrame,
    probes: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "id_a",
    corpus_id: str = "id_b",
) -> DataFrame:
    """All (probe, corpus) cosine pairs ≥ threshold via a numpy-backed
    mapInPandas scan.

    The probe set (bounded — it is collected) ships as a normalized
    float64 matrix inside the UDF closure; every Arrow batch of the
    corpus scores against all probes in ONE matmul. This is the scale
    shape for dense vectors: the corpus streams through map-side only
    (no shuffle, no N² join), compute is BLAS-vectorized instead of
    per-element expression evaluation (~10× measured vs the zip_with/
    aggregate HOF cosine, which is interpreted CodegenFallback), and
    only the (sparse) over-threshold pairs ever materialize.
    """
    import numpy as np
    import pandas as pd

    probe_rows = probes.select(id_col, vec_col).collect()
    if not probe_rows:
        # empty probe set: an empty result with the contract schema —
        # np.array([]) would be 1-D and crash the axis-1 normalization
        return corpus.sparkSession.createDataFrame(
            [], f"{probe_id} long, {corpus_id} long, cos_sim double"
        )
    p_ids = np.array([r[0] for r in probe_rows], dtype=np.int64)
    pm = np.array([r[1] for r in probe_rows], dtype=np.float64)
    p_norm = np.linalg.norm(pm, axis=1, keepdims=True)
    p_unit = np.divide(pm, p_norm, out=np.zeros_like(pm), where=p_norm > 0)

    def op(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_norm = np.linalg.norm(cm, axis=1, keepdims=True)
            c_unit = np.divide(cm, c_norm, out=np.zeros_like(cm), where=c_norm > 0)
            sims = c_unit @ p_unit.T  # (batch, probes)
            ci, pi = np.nonzero(sims >= threshold)
            if len(ci) == 0:
                continue
            yield pd.DataFrame(
                {
                    probe_id: p_ids[pi],
                    corpus_id: pdf[id_col].to_numpy()[ci],
                    "cos_sim": sims[ci, pi],
                }
            )

    # NOT spread(): a Pandas-UDF scan over a small corpus is dominated by
    # Python-worker startup — forcing 32 partitions costs more than the
    # single-core matmul saves. At scale the scan is already parallel.
    return corpus.select(id_col, vec_col).mapInPandas(
        op, schema=f"{probe_id} long, {corpus_id} long, cos_sim double"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double; NULL-safe zero-vector → 0.0."""
    denom = norm(a) * norm(b)
    return F.when(denom > 0, dot(a, b) / denom).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
) -> DataFrame:
    """Exact top-k: the probe set ships as a numpy matrix in the scanner
    closure, the corpus streams through map-side (one matmul per Arrow
    batch, no shuffle), deterministic top-k per probe (ties broken by
    corpus id)."""
    scored = cosine_pairs_vectorized(
        corpus,
        probes,
        threshold=-1.0,
        id_col=id_col,
        vec_col=vec_col,
        probe_id=probe_id,
        corpus_id=id_col,
    ).filter(F.col(probe_id) != F.col(id_col))
    return top_k_per_group(
        scored,
        [probe_id],
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )


def mine_hard_negatives(
    corpus: DataFrame,
    anchors: DataFrame,
    k: int = 5,
    margin: float = 0.2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    floor: float = -1.0,
    round_scale: int | None = None,
) -> DataFrame:
    """Semi-hard negative mining for contrastive training (the FaceNet
    triplet discipline): for each anchor, the k most-similar corpus
    vectors whose ``label_col`` DIFFERS from the anchor's, each flagged
    ``semi_hard`` when its similarity falls inside the margin band below
    the anchor's best same-label ("positive") similarity —
    ``pos_sim - margin <= cos_sim < pos_sim``. Negatives above the band
    are "too hard" (likely label noise), below it contribute no
    gradient; the band is what a triplet/InfoNCE data loader wants.

    Shape (one corpus pass, no corpus shuffle): the bounded anchor set
    ships as a normalized float64 matrix + label vector in the scanner
    closure; each Arrow batch scores against ALL anchors in one matmul
    and emits (anchor, candidate) rows — different-label pairs above
    ``floor``, plus every same-label pair (needed for the positive max;
    at most |anchors-per-label| x corpus rows). Downstream shuffles
    touch only these pair rows keyed by anchor id: a partial-aggregated
    max for ``pos_sim`` and a top-k window per anchor. At 100 TB raise
    ``floor`` so the scan emits only plausible negatives; the graded
    entry keeps -1.0 for exactness.

    ``round_scale``: when set, similarities are rounded to that scale
    BEFORE ranking and the semi-hard comparison, making rank order and
    flags bit-replayable in any engine with the same rounding (the
    cross-engine-oracle discipline; ulp-level matmul-order skew cannot
    flip a rank or a flag). Production callers leave it None.

    Anchors with no same-label peer get NULL ``pos_sim`` and
    ``semi_hard`` false on every negative (no positive, no band).

    Returns (probe_id, vec_id, cos_sim, pos_sim, semi_hard, rank).
    """
    import numpy as np
    import pandas as pd

    anchor_rows = anchors.select(id_col, vec_col, label_col).collect()
    spark = corpus.sparkSession
    pair_schema = "probe_id long, vec_id long, cos_sim double, same_label boolean"
    if not anchor_rows:
        pairs = spark.createDataFrame([], pair_schema)
    else:
        a_ids = np.array([r[0] for r in anchor_rows], dtype=np.int64)
        am = np.array([r[1] for r in anchor_rows], dtype=np.float64)
        a_lbl = np.array([r[2] for r in anchor_rows], dtype=np.int64)
        a_norm = np.linalg.norm(am, axis=1, keepdims=True)
        a_unit = np.divide(am, a_norm, out=np.zeros_like(am), where=a_norm > 0)

        def op(batches):
            for pdf in batches:
                if pdf.empty:
                    continue
                cm = np.array(list(pdf[vec_col]), dtype=np.float64)
                c_norm = np.linalg.norm(cm, axis=1, keepdims=True)
                c_unit = np.divide(cm, c_norm, out=np.zeros_like(cm), where=c_norm > 0)
                sims = c_unit @ a_unit.T  # (batch, anchors)
                c_ids = pdf[id_col].to_numpy()
                c_lbl = pdf[label_col].to_numpy()
                same = c_lbl[:, None] == a_lbl[None, :]
                keep = (same | (sims >= floor)) & (c_ids[:, None] != a_ids[None, :])
                ci, ai = np.nonzero(keep)
                if len(ci) == 0:
                    continue
                yield pd.DataFrame(
                    {
                        "probe_id": a_ids[ai],
                        "vec_id": c_ids[ci],
                        "cos_sim": sims[ci, ai],
                        "same_label": same[ci, ai],
                    }
                )

        pairs = corpus.select(id_col, vec_col, label_col).mapInPandas(
            op, schema=pair_schema
        )

    sim = (
        F.round(F.col("cos_sim"), round_scale)
        if round_scale is not None
        else F.col("cos_sim")
    )
    pairs = pairs.withColumn("cos_sim", sim)
    pos = (
        pairs.filter(F.col("same_label"))
        .groupBy("probe_id")
        .agg(F.max("cos_sim").alias("pos_sim"))
    )
    negs = top_k_per_group(
        pairs.filter(~F.col("same_label")).drop("same_label"),
        ["probe_id"],
        [F.col("cos_sim").desc(), F.col("vec_id").asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )
    return negs.join(F.broadcast(pos), "probe_id", "left").select(
        "probe_id",
        "vec_id",
        "cos_sim",
        "pos_sim",
        F.coalesce(
            (F.col("cos_sim") < F.col("pos_sim"))
            & (F.col("cos_sim") >= F.col("pos_sim") - F.lit(margin)),
            F.lit(False),
        ).alias("semi_hard"),
        "rank",
    )


def kmeans_fit(
    corpus: DataFrame,
    k: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Spherical k-means (Lloyd's) over the embedding column — the real
    IVF coarse quantizer. Returns a unit-normalized (k, dim) numpy array.

    The 100 TB shape: centroids (k×dim, a few KB) live on the driver;
    each iteration is ONE vectorized map pass over the corpus that fuses
    assignment (argmax dot against the closure centroid matrix) with the
    per-cell partial component sums — each Arrow batch emits at most k
    rows of (cell, dim-array sum, count), so the driver collects
    O(batches × k × dim) partials, never vectors, and nothing shuffles.
    (An earlier form posexploded the assignment into a (cell, idx)
    hash-aggregate — same math, but it re-materialized every vector
    component as a row; fusing halved the per-iteration wall time.)

    Deterministic: init = the k lowest-id vectors; ties in assignment
    break toward the lower cell index. Empty cells keep their previous
    centroid.
    """
    import numpy as np
    import pandas as pd

    init_rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(k).collect()
    )
    cent = np.array([r[1] for r in init_rows], dtype=np.float64)
    cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)

    vecs = corpus.select(id_col, vec_col)
    for _ in range(iters):
        cm_ref = cent  # rebind for the closure (cent reassigns below)

        def partials(batches, _cent=cm_ref):
            for pdf in batches:
                if pdf.empty:
                    continue
                cm = np.array(list(pdf[vec_col]), dtype=np.float64)
                nrm = np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
                cells = ((cm / nrm) @ _cent.T).argmax(axis=1)
                rows = [
                    (int(c), cm[cells == c].sum(axis=0).tolist(),
                     int((cells == c).sum()))
                    for c in np.unique(cells)
                ]
                yield pd.DataFrame(rows, columns=["cell", "s", "n"])

        sums = vecs.mapInPandas(
            partials, schema="cell int, s array<double>, n long"
        ).collect()
        new = cent.copy()
        acc: dict[int, np.ndarray] = {}
        for r in sums:
            vec = acc.get(r["cell"])
            if vec is None:
                acc[r["cell"]] = np.array(r["s"], dtype=np.float64)
            else:
                vec += np.array(r["s"], dtype=np.float64)
        for cell, vec in acc.items():
            nrm = np.linalg.norm(vec)
            if nrm > 0:
                new[cell] = vec / nrm
        cent = new
    return cent


def assign_cells(
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, vec) → (id, vec, cell): argmax-dot cell assignment against a
    driver-held unit centroid matrix, one matmul per Arrow batch."""
    import numpy as np
    import pandas as pd

    cent = np.asarray(centroids, dtype=np.float64)

    def op(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            cm = np.array(list(pdf[vec_col]), dtype=np.float64)
            nrm = np.maximum(np.linalg.norm(cm, axis=1, keepdims=True), 1e-12)
            cells = ((cm / nrm) @ cent.T).argmax(axis=1)
            out = pdf[[id_col, vec_col]].copy()
            out["cell"] = cells.astype("int32")
            yield out

    vec_type = dict(corpus.dtypes)[vec_col]
    schema = f"{id_col} long, {vec_col} {vec_type}, cell int"
    return corpus.select(id_col, vec_col).mapInPandas(op, schema=schema)


def ivf_kmeans_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    k_clusters: int = 16,
    nprobe: int = 4,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
) -> DataFrame:
    """IVF with a trained spherical-kmeans quantizer: probes search only
    their ``nprobe`` nearest cells, scored exactly with the vectorized
    scanner. At rest the corpus would be written partitioned by ``cell``
    so each probe's scan partition-prunes to nprobe/k_clusters of data.
    """
    import numpy as np

    cent = kmeans_fit(corpus, k_clusters, iters, id_col, vec_col)
    cells = scoped_persist(assign_cells(corpus, cent, id_col, vec_col))

    probe_rows = probes.select(id_col, vec_col).collect()
    pm = np.array([r[1] for r in probe_rows], dtype=np.float64)
    pm /= np.maximum(np.linalg.norm(pm, axis=1, keepdims=True), 1e-12)
    sims_pc = pm @ cent.T  # (p, k_clusters)
    probe_cells = [
        (int(r[0]), [int(c) for c in np.argsort(-sims_pc[i])[:nprobe]])
        for i, r in enumerate(probe_rows)
    ]
    spark = corpus.sparkSession
    pc = spark.createDataFrame(
        [(pid, c) for pid, cs in probe_cells for c in cs],
        f"{probe_id} long, cell int",
    )
    # restrict the corpus to the union of probed cells, then exact-score
    # probe×member pairs and keep only pairs within the probe's own cells
    member = cells.join(
        F.broadcast(pc.select("cell").distinct()), "cell", "semi"
    )
    scored = cosine_pairs_vectorized(
        member,
        probes,
        threshold=-1.0,
        id_col=id_col,
        vec_col=vec_col,
        probe_id=probe_id,
        corpus_id=id_col,
    )
    scored = (
        scored.join(
            cells.select(F.col(id_col), "cell"), id_col
        )
        .join(F.broadcast(pc), [probe_id, "cell"], "semi")
        .filter(F.col(probe_id) != F.col(id_col))
    )
    return top_k_per_group(
        scored.select(probe_id, id_col, "cos_sim"),
        [probe_id],
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )


def label_centroids(
    corpus: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Deterministic coarse quantizer: element-wise mean per label.

    (A trained k-means quantizer drops in here — pyspark.ml KMeans — but
    the label partition keeps the cell assignment reproducible for the
    oracle; the IVF *mechanics* are identical either way.)
    """
    exploded = corpus.select(
        label_col, F.posexplode(vec_col).alias("idx", "component")
    )
    per_idx = exploded.groupBy(label_col, "idx").agg(
        F.avg(F.col("component").cast("double")).alias("mean_c")
    )
    return (
        per_idx.groupBy(label_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "mean_c"))),
                lambda s: s["mean_c"],
            ).alias("centroid")
        )
    )


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    probe_id: str = "probe_id",
) -> DataFrame:
    """IVF ANN: per-label centroids → each probe picks its ``nprobe``
    nearest cells → exact search inside those cells only.

    Scale: centroids are tiny (broadcast); the corpus-side filter is an
    equi-join on the cell id, so with the corpus stored partitioned by
    label the scan prunes to nprobe partitions per probe.

    Cell selection runs on the broadcast probes×centroids product (tiny:
    |probes|·|labels| rows — the HOF cosine is fine there); cell SCORING
    streams the chosen members through the numpy matmul scanner
    (``cosine_pairs_vectorized``), the same path ``ivf_kmeans_topk``
    uses — the HOF cosine over corpus-sized input is CodegenFallback
    (interpreted) and measured ~10× slower.
    """
    cents = label_centroids(corpus, label_col, vec_col)
    p = probes.select(F.col(id_col).alias(probe_id), F.col(vec_col).alias("probe_vec"))

    probe_cells = (
        F.broadcast(p)
        .crossJoin(F.broadcast(cents))
        .select(
            probe_id,
            label_col,
            cosine(F.col("probe_vec"), F.col("centroid")).alias("cent_sim"),
        )
    )
    chosen = top_k_per_group(
        probe_cells,
        [probe_id],
        [F.col("cent_sim").desc(), F.col(label_col).asc()],
        k=nprobe,
    ).select(probe_id, label_col)

    # exact-score only members of the union of chosen cells, then keep
    # each pair only if the member's cell is among that probe's cells
    member = corpus.select(id_col, vec_col, label_col).join(
        F.broadcast(chosen.select(label_col).distinct()), label_col, "semi"
    )
    scored = (
        cosine_pairs_vectorized(
            member,
            probes,
            threshold=-1.0,
            id_col=id_col,
            vec_col=vec_col,
            probe_id=probe_id,
            corpus_id=id_col,
        )
        .join(corpus.select(id_col, label_col), id_col)
        .join(F.broadcast(chosen), [probe_id, label_col], "semi")
        .filter(F.col(probe_id) != F.col(id_col))
    )
    return top_k_per_group(
        scored.select(probe_id, id_col, "cos_sim"),
        [probe_id],
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )


def hyperplane_buckets(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 16,
    bits: int = 12,
    seed: int = 7,
    plane_family: str = "gaussian",
) -> DataFrame:
    """Multi-table random-hyperplane LSH buckets: (id, table, bucket)
    long form, one row per (vector, table).

    Signatures compute in ONE numpy matmul per Arrow batch against a
    deterministic (num_tables·bits × dim) plane matrix held in the UDF
    closure — the map-side-only corpus pass. Multiple tables are what
    make hyperplane LSH usable: a single b-bit signature has recall
    p(θ)^b, while L tables give 1−(1−p^b)^L (e.g. cos ≥ 0.95 →
    p≈0.90 → one 12-bit table 28%, 16 tables 99.5%).

    ``plane_family``: "gaussian" (production — seeded
    ``standard_normal``) or "md5" (the cross-engine-replayable twin:
    component (r, d) is the first 15 md5 hex digits of ``hp-{r}-{d}``
    mapped to [-1, 1) — uniform rather than normal, which only scales
    the sign-agreement/angle curve slightly; any symmetric component
    law gives sign-LSH its locality property. Every plane value is
    re-derivable in any engine with md5 + string ops — the t03b/t02b
    discipline for the hyperplane family)."""
    import numpy as np
    import pandas as pd

    dim = len(corpus.select(vec_col).first()[0])
    if plane_family == "md5":
        import hashlib

        planes = np.array(
            [
                [
                    (
                        int(
                            hashlib.md5(f"hp-{r}-{d}".encode()).hexdigest()[:15],
                            16,
                        )
                        / 2**60
                    )
                    * 2
                    - 1
                    for d in range(dim)
                ]
                for r in range(num_tables * bits)
            ]
        )
    elif plane_family == "gaussian":
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((num_tables * bits, dim))
    else:
        raise ValueError(f"unknown plane_family {plane_family!r}")
    weights = (1 << np.arange(bits)).astype(np.int64)

    def op(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            v = np.array(list(pdf[vec_col]), dtype=np.float64)
            signs = (v @ planes.T) > 0  # (batch, T*B)
            out = []
            ids = pdf[id_col].to_numpy()
            for t in range(num_tables):
                chunk = signs[:, t * bits : (t + 1) * bits]
                buckets = chunk @ weights
                out.append(
                    pd.DataFrame({id_col: ids, "table": t, "bucket": buckets})
                )
            yield pd.concat(out, ignore_index=True)

    return corpus.select(id_col, vec_col).mapInPandas(
        op, schema=f"{id_col} long, table int, bucket long"
    )


def hyperplane_lsh_pairs(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 16,
    bits: int = 12,
    threshold: float = 0.9,
    seed: int = 7,
    max_bucket: int = 64,
    plane_family: str = "gaussian",
) -> DataFrame:
    """All-pairs near-dup at scale: candidates from any shared
    (table, bucket), verified with exact cosine ≥ threshold. The
    self-join shuffles only (id, table, bucket) — vectors re-attach to
    the (small) candidate set afterward, so payload never rides the
    bucket shuffle.

    ``max_bucket`` caps bucket width before the self-join (skew guard: a
    hot bucket of width w is w² candidate pairs, and near-the-mean
    vectors crowd a few buckets). A true near-dup pair agrees on ~all
    ``num_tables`` tables, so it still meets in any one table whose
    bucket stayed under the cap — recall loss concentrates on vectors
    that near-collide with thousands of others, i.e. dense clumps better
    served by clustering than pairwise dedup."""
    buckets = hyperplane_buckets(
        corpus, id_col, vec_col, num_tables, bits, seed, plane_family
    )
    buckets = cap_buckets(buckets, ["table", "bucket"], max_bucket)
    cands = (
        buckets.withColumnRenamed(id_col, "id_a")
        .join(buckets.withColumnRenamed(id_col, "id_b"), ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cand_ids = cands.select(
        F.explode(F.array("id_a", "id_b")).alias(id_col)
    ).distinct()
    vecs = corpus.join(F.broadcast(cand_ids), id_col, "semi").select(id_col, vec_col)
    a = vecs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("vec_a"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vec_b"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("vec_a"), F.col("vec_b")), 6).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# IVF index at rest (quantizer persistence)
# ---------------------------------------------------------------------------


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    k_clusters: int = 16,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize_bits: int | None = None,
) -> None:
    """Persist a trained IVF index: ``{path}/centroids`` (tiny parquet:
    cell, centroid) + ``{path}/corpus`` partitioned by cell id — the
    at-rest layout where a probe's nprobe-cell search partition-prunes
    to nprobe/k_clusters of the data (PartitionFilters, zero IO for the
    rest). Train once, search many: the quantizer survives the session.

    ``quantize_bits=8`` stores each vector as ``qvec array<tinyint>`` +
    one double ``scale`` instead of the float array — the storage lever
    of ``quantize_embeddings`` applied at rest (~4× fewer bytes per
    vector than float32, ~8× vs the double arrays the synthetic tables
    carry). Cell assignment happens BEFORE quantization, on the exact
    vectors, so a quantized index prunes identically to the float one —
    quantization error touches only the final scores.
    """

    from datasheet_etl_spark.io import write_partitioned

    cent = kmeans_fit(corpus, k_clusters, iters, id_col, vec_col)
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(cent)],
        "cell int, centroid array<double>",
    )
    cent_df.coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    cells = assign_cells(corpus, cent, id_col, vec_col)
    if quantize_bits is not None:
        int_t = "tinyint" if quantize_bits <= 8 else "smallint"
        cells = quantize_embeddings(cells, vec_col, bits=quantize_bits).select(
            id_col,
            F.col("qvec").cast(f"array<{int_t}>").alias("qvec"),
            "scale",
            "cell",
        )
    write_partitioned(cells, f"{path}/corpus", ["cell"])


def append_to_ivf_index(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental index maintenance: assign new vectors to cells with
    the PERSISTED centroids (no retrain — the quantizer is frozen) and
    append them to the cell-partitioned corpus, matching the stored
    layout (float, or quantized to the stored integer width).

    One map-side pass over the new vectors plus a partitioned append —
    the arriving shard never touches the existing corpus files, and
    partition pruning over the union is unchanged. The operational
    contract of every IVF system: appends are cheap, but cell balance
    and recall degrade as the data distribution drifts from the
    centroids' training set — monitor cell sizes and retrain
    (``write_ivf_index``) as the periodic recompute.
    """
    cent = read_ivf_centroids(spark, path)
    cells = assign_cells(new_vectors, cent, id_col, vec_col)
    stored = dict(spark.read.parquet(f"{path}/corpus").dtypes)
    if vec_col not in stored:  # quantized at-rest layout
        int_t = stored["qvec"].removeprefix("array<").removesuffix(">")
        bits = {"tinyint": 8, "smallint": 16}[int_t]
        cells = quantize_embeddings(cells, vec_col, bits=bits).select(
            id_col,
            F.col("qvec").cast(f"array<{int_t}>").alias("qvec"),
            "scale",
            "cell",
        )
    cells.write.mode("append").partitionBy("cell").parquet(f"{path}/corpus")


def ivf_cell_report(spark, path: str) -> "DataFrame":
    """Operational health report for a persisted IVF index: one row per
    cell with its vector count, share of the corpus, and imbalance
    factor (count ÷ mean cell size — 1.0 everywhere is a perfectly
    balanced quantizer). This is the retrain monitor the append
    lifecycle needs: appends ride the frozen quantizer
    (:func:`append_to_ivf_index`), so as the data distribution drifts,
    hot cells grow — search cost on a probed hot cell grows with it —
    and a max imbalance of ~3-5× is the usual cue to retrain
    (:func:`write_ivf_index`).

    Cost: one column-pruned scan of the cell partition KEY only (the
    vectors are never read — at rest the key is directory metadata),
    one kilobyte-sized aggregate, and a broadcast of the 1-row totals.
    Safe to run after every append at any corpus size."""
    corpus = spark.read.parquet(f"{path}/corpus").select("cell")
    counts = corpus.groupBy("cell").agg(F.count("*").alias("n"))
    totals = counts.agg(
        F.sum("n").alias("_total"), F.count("*").alias("_ncells")
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "cell",
            "n",
            F.round(F.col("n") / F.col("_total"), 6).alias("share"),
            F.round(F.col("n") * F.col("_ncells") / F.col("_total"), 6).alias(
                "imbalance_x"
            ),
        )
        .orderBy(F.col("n").desc(), "cell")
    )


def read_ivf_centroids(spark, path: str):
    """(k, dim) numpy centroid matrix from a persisted index — a few KB,
    driver-held, exactly as during training."""
    import numpy as np

    rows = spark.read.parquet(f"{path}/centroids").orderBy("cell").collect()
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def ivf_search_indexed(
    spark,
    path: str,
    probes: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
) -> DataFrame:
    """Top-k ANN over a persisted IVF index: centroids load driver-side,
    each probe picks its nprobe nearest cells, and the corpus scan
    carries ``cell IN (...)`` — a PartitionFilter against the at-rest
    layout, so only the probed directories are read (plan-pinned in
    tests/test_plans.py). Scoring is the vectorized matmul scanner.

    A quantized index (``write_ivf_index(quantize_bits=...)``) is
    detected from the stored schema and decoded in-plan with
    ``dequantize`` (codegen ``transform``, no UDF) before scoring: the
    pruned scan reads int8 arrays — a quarter of the float32 bytes —
    and cosine is scale-invariant, so only the ≤ scale/2 per-component
    rounding error perturbs the ranking (recall@10 ≥ 0.9 vs the float
    index is pinned in tests/test_training_ops.py).
    """
    import numpy as np

    cent = read_ivf_centroids(spark, path)
    probe_rows = probes.select(id_col, vec_col).collect()
    pm = np.array([r[1] for r in probe_rows], dtype=np.float64)
    pm /= np.maximum(np.linalg.norm(pm, axis=1, keepdims=True), 1e-12)
    sims_pc = pm @ cent.T
    probe_cells = [
        (int(r[0]), [int(c) for c in np.argsort(-sims_pc[i])[:nprobe]])
        for i, r in enumerate(probe_rows)
    ]
    wanted = sorted({c for _, cs in probe_cells for c in cs})

    member = spark.read.parquet(f"{path}/corpus").filter(F.col("cell").isin(wanted))
    if vec_col not in member.columns:  # quantized at-rest layout
        member = member.withColumn(vec_col, dequantize("qvec", "scale"))
    pc = spark.createDataFrame(
        [(pid, c) for pid, cs in probe_cells for c in cs],
        f"{probe_id} long, cell int",
    )
    scored = (
        cosine_pairs_vectorized(
            member,
            probes,
            threshold=-1.0,
            id_col=id_col,
            vec_col=vec_col,
            probe_id=probe_id,
            corpus_id=id_col,
        )
        .join(member.select(id_col, "cell"), id_col)
        .join(F.broadcast(pc), [probe_id, "cell"], "semi")
        .filter(F.col(probe_id) != F.col(id_col))
    )
    return top_k_per_group(
        scored.select(probe_id, id_col, "cos_sim"),
        [probe_id],
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )


def ivf_search_refined(
    spark,
    path: str,
    probes: DataFrame,
    exact_vectors: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    candidates: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
) -> DataFrame:
    """Two-stage ANN — the production retrieval shape: a CHEAP wide scan
    of the (int8) IVF index gathers ``candidates`` (default 4·k) hits
    per probe, then a refine stage re-scores exactly those candidates
    against the full-precision ``exact_vectors`` and returns the exact
    top-k. Quantization error can now only cost recall when a true
    top-k neighbor falls outside the top-4k of the int8 ranking — a 4×
    margin on the ≤ scale/2 rounding error — so recall@10 ≥ 0.95 vs
    brute force is pinned (tests/test_training_ops.py) where the
    single-stage quantized floor is 0.9. Returned scores are
    full-precision cosines of the original vectors (sequential-fold
    ``cosine`` expression); they agree with the numpy/BLAS brute path
    to float accumulation order — within 1e-9, pinned — not bit-for-
    bit, since BLAS blocks its summation.

    Cost shape at 100 TB: stage 1 reads int8 arrays (¼ the float bytes)
    from nprobe/k_clusters of the partitions; stage 2 touches only
    |probes|·candidates corpus rows — a semi-join against the float
    store, never a scan. The probe side broadcasts (probe batches are
    small by contract); exact scoring is the codegen ``cosine``
    expression (JVM-side, no UDF)."""
    if candidates is None:
        candidates = 4 * k
    cands = ivf_search_indexed(
        spark, path, probes, k=candidates, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col, probe_id=probe_id,
    ).select(probe_id, id_col)
    pv = probes.select(
        F.col(id_col).alias(probe_id),
        F.transform(vec_col, lambda x: x.cast("double")).alias("_pv"),
    )
    ev = exact_vectors.select(
        id_col, F.transform(vec_col, lambda x: x.cast("double")).alias("_cv")
    )
    scored = (
        cands.join(F.broadcast(pv), probe_id)
        .join(ev, id_col)
        .select(probe_id, id_col, cosine(F.col("_pv"), F.col("_cv")).alias("cos_sim"))
    )
    return top_k_per_group(
        scored,
        [probe_id],
        [F.col("cos_sim").desc(), F.col(id_col).asc()],
        k=k,
        keep_rank=True,
        rank_col="rank",
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    bits: int = 8,
    q_col: str = "qvec",
    scale_col: str = "scale",
) -> DataFrame:
    """Per-vector symmetric integer quantization of an embedding column —
    the storage/bandwidth lever for vector corpora at scale (int8 cuts a
    100 TB float32 embedding store to 25 TB plus one scale per vector).

    scale = max|v| / qmax; q_i = clamp(floor(v_i/scale + 0.5)) — floor of
    the shifted value, NOT round(): floor is bit-deterministic and
    engine-portable, while SQL ROUND ties differ (HALF_UP vs HALF_EVEN)
    across engines. Zero vectors quantize to zeros with scale 0.
    Reconstruction is q_i * scale; max abs error ≤ scale/2.

    Pure codegen expressions (transform/zip_with) — no UDF, no shuffle.
    """
    qmax = (1 << (bits - 1)) - 1
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(float(qmax))
    q = F.transform(
        v,
        lambda x: F.when(scale == 0, F.lit(0).cast("long")).otherwise(
            F.greatest(
                F.lit(-qmax).cast("long"),
                F.least(
                    F.lit(qmax).cast("long"),
                    F.floor(x / scale + F.lit(0.5)),
                ),
            )
        ),
    )
    return df.withColumn(scale_col, scale).withColumn(q_col, q)


def dequantize(q_col, scale_col) -> Column:
    """Reconstruct a quantized vector: q_i * scale (double array)."""
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    return F.transform(q, lambda x: x.cast("double") * s)


def semantic_dedup(
    emb: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.6,
    kept_col: str = "kept",
    max_cell: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into cells (here a
    caller-supplied cell column — the ``label`` coarse quantizer for the
    oracle-checkable entry, :func:`assign_cells` over a k-means fit for
    the trained variant), then within each cell drop every vector that
    has a strictly-smaller-id neighbor at cosine ≥ ``threshold``. The
    min-id keep rule is the deterministic, engine-stable stand-in for
    SemDeDup's keep-farthest-from-centroid; the pruning set is identical
    in size.

    Returns ``(id_col, cell_col, kept_col)`` for every input row.

    Scale shape: ONE shuffle (groupBy cell), then each cell is scored
    independently with a single normalized float64 matmul per cell —
    pairwise work is bounded by cell size (k cells → N²/k total work,
    the whole point of cell-partitioning), and the O(cell²) similarity
    matrix never leaves the executor: only (id, cell, bool) rows come
    back. Oversized cells are the skew risk; at corpus scale pick k so
    cells are ~10⁴ vectors (SemDeDup's operating point) and split hot
    cells by re-clustering, exactly as the paper does.

    ``max_cell`` is the in-engine skew guard when re-clustering isn't
    an option: a cell wider than the cap is split DETERMINISTICALLY
    (xxhash64 of the id, mod ceil(n/max_cell)) into sub-cells that
    prune independently, capping the matmul near max_cell² per task —
    in EXPECTATION: sub-cell sizes are multinomial, so a hot sub-cell
    can exceed the cap (concentration keeps the overshoot small at
    realistic sizes, but it is not a hard ceiling). Tradeoff, stated
    plainly: only pairs whose members hash into the SAME sub-cell are
    comparable, ≈ 1/n_sub of a split cell's pairs — i.e. 1 − 1/n_sub
    of its pairwise recall is traded away (same stance as
    ``cap_buckets``); the paper's re-cluster split is the
    recall-preserving (but retrain-cost) alternative. ``None``
    disables (full within-cell recall — the t45 oracle path).
    """
    import numpy as np
    import pandas as pd

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        m = np.array(list(pdf[vec_col].to_numpy()[order]), dtype=np.float64)
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        unit = np.divide(m, nrm, out=np.zeros_like(m), where=nrm > 0)
        sims = unit @ unit.T
        # strict upper triangle: dup[j] = any i<j with cos(i,j) >= threshold
        hit = np.triu(sims >= threshold, k=1)
        dropped = hit.any(axis=0)
        return pd.DataFrame(
            {
                id_col: ids,
                cell_col: pdf[cell_col].to_numpy()[order],
                kept_col: ~dropped,
            }
        )

    cell_field = emb.schema[cell_col].dataType.simpleString()
    id_field = emb.schema[id_col].dataType.simpleString()
    work = emb.select(id_col, cell_col, vec_col)
    group_cols = [cell_col]
    if max_cell is not None:
        # cell sizes via a tiny aggregate joined back NULL-SAFELY:
        # - scoped_persist: one evaluation of the (often expensive)
        #   upstream lineage for both the count and the probe side;
        # - eqNullSafe join: NULL cell values keep their group instead
        #   of silently dropping out of an equi-join — the
        #   every-input-row-reported contract;
        # - NOT a window count: Window.partitionBy(cell) would leave
        #   the data hash-partitioned on cell alone, which the
        #   downstream groupBy(cell, _sub) REUSES — every sub-cell of
        #   a split hot cell would land in one task (and the window
        #   would buffer the whole hot cell, vectors included). The
        #   join keeps the exchange on (cell, _sub), spreading exactly
        #   the skew this guard exists to spread.
        from datasheet_etl_spark.caching import scoped_persist

        work = scoped_persist(work)
        sizes = work.groupBy(F.col(cell_col).alias("_sc")).agg(
            F.count("*").alias("_cn")
        )
        n_sub = F.greatest(
            F.lit(1), F.ceil(F.col("_cn") / F.lit(int(max_cell)))
        ).cast("int")
        work = (
            work.join(
                F.broadcast(sizes), F.col(cell_col).eqNullSafe(F.col("_sc"))
            )
            .withColumn("_sub", F.pmod(F.xxhash64(F.col(id_col)), n_sub).cast("int"))
            .drop("_sc", "_cn")
        )
        group_cols = [cell_col, "_sub"]
    return (
        work.groupBy(*group_cols)
        .applyInPandas(
            prune,
            schema=f"{id_col} {id_field}, {cell_col} {cell_field}, {kept_col} boolean",
        )
    )


def mmr_select(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    lam: float = 0.5,
    pool: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id: str = "probe_id",
) -> DataFrame:
    """Maximal Marginal Relevance selection: per probe, k items chosen
    greedily by ``lam·relevance − (1−lam)·max-similarity-to-already-
    chosen`` — the diversity-aware top-k used for few-shot example and
    eval-set selection, where plain top-k returns k near-copies of the
    best hit.

    Two-stage by construction: stage 1 is the DISTRIBUTED relevance
    top-``pool`` (the existing map-side matmul scan — the corpus never
    shuffles); stage 2 runs greedy MMR on the collected pool per probe
    — pool × dim floats on the driver, bounded by the caller, the same
    bounded-collect discipline as the centroid/probe sets elsewhere in
    this module. MMR's greedy loop is inherently sequential in k, so
    pushing it into the cluster buys nothing; bounding its INPUT is the
    scalable design.

    Deterministic: ties in the MMR score break on corpus id.
    Returns (probe_id, id, mmr_rank, cos_sim).
    """
    import numpy as np
    import pandas as pd

    from datasheet_etl_spark.caching import scoped_persist

    # persisted: the candidate frame (the corpus-scan matmul + top-k,
    # the operator's dominant cost) is consumed by two actions below
    cand = scoped_persist(
        brute_force_topk(
            corpus, probes, k=pool, id_col=id_col, vec_col=vec_col, probe_id=probe_id
        )
    )
    vecs = {int(r[0]): np.asarray(r[1], dtype=np.float64) for r in corpus.select(
        id_col, vec_col
    ).join(cand.select(F.col(id_col)).distinct(), id_col, "semi").collect()}
    rows = cand.select(probe_id, id_col, "cos_sim").collect()
    by_probe: dict[int, list] = {}
    for r in rows:
        by_probe.setdefault(int(r[0]), []).append((int(r[1]), float(r[2])))

    out = []
    for p, items in sorted(by_probe.items()):
        ids = [i for i, _ in items]
        rel = {i: s for i, s in items}
        mat = np.stack([vecs[i] / (np.linalg.norm(vecs[i]) or 1.0) for i in ids])
        chosen: list[int] = []
        remaining = list(range(len(ids)))
        max_sim = np.full(len(ids), -1.0)
        for rank in range(min(k, len(ids))):
            best_j, best_score = None, None
            for j in remaining:
                score = (
                    lam * rel[ids[j]] - (1.0 - lam) * max_sim[j]
                    if chosen
                    else rel[ids[j]]
                )
                key = (score, -ids[j])
                if best_score is None or key > best_score:
                    best_score, best_j = key, j
            chosen.append(best_j)
            remaining.remove(best_j)
            sims = mat[remaining] @ mat[best_j]
            for idx, j in enumerate(remaining):
                if sims[idx] > max_sim[j]:
                    max_sim[j] = sims[idx]
            out.append((p, ids[best_j], rank + 1, rel[ids[best_j]]))

    spark = corpus.sparkSession
    schema = f"{probe_id} long, {id_col} long, mmr_rank int, cos_sim double"
    if not out:
        # empty probes/corpus: an empty frame with the contract schema,
        # not a pandas schema-inference failure
        return spark.createDataFrame([], schema)
    return spark.createDataFrame(
        pd.DataFrame(out, columns=[probe_id, id_col, "mmr_rank", "cos_sim"]),
        schema,
    )


# --- Per-dimension feature scaling (train-prep normalization) ---------


def feature_frame(df: DataFrame, col: str) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) of an ``array<float>`` embedding column
    across the corpus — the fixed frame min-max scaling needs, computed
    once and shipped to the scaler as plain literals.

    Scale shape: posexplode fans out to n × dim rows but the
    groupBy(dim) partial-aggregates to dim rows PER PARTITION before
    the shuffle (map-side combine), so only numPartitions × dim tiny
    rows ever move; the collect is dim rows (bounded, like the IVF
    centroid pulls above). Ragged inputs fail HERE rather than
    silently mis-scaling: dim d is populated by exactly the rows whose
    array is longer than d, so uniform length ⟺ every dim has the
    same row count."""
    rows = (
        df.select(F.posexplode(col).alias("dim", "x"))
        .groupBy("dim")
        .agg(
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
            F.count("*").alias("n"),
        )
        .orderBy("dim")
        .collect()
    )
    if not rows:
        raise ValueError(f"feature_frame: no non-empty arrays in {col!r}")
    counts = {r["n"] for r in rows}
    if len(counts) > 1:
        raise ValueError(
            f"feature_frame: ragged arrays in {col!r} — per-dim row "
            f"counts range {min(counts)}..{max(counts)}; scaling a "
            "mixed-length corpus would compare incomparable dimensions"
        )
    return [float(r["lo"]) for r in rows], [float(r["hi"]) for r in rows]


def scale_features(
    df: DataFrame,
    col: str,
    lo: "list[float]",
    hi: "list[float]",
    out_col: str = "scaled",
) -> DataFrame:
    """Min-max scale every dimension into [0, 1] — MAP-ONLY: the frame
    rides along as two array literals and the per-element transform is
    a JVM higher-order function, so the corpus pass adds zero shuffles
    (the one shuffle in the lifecycle is feature_frame's dim-partial
    agg). Constant dimensions (hi == lo) map to 0.5 rather than
    dividing by a zero width. Arithmetic is double-widened (float
    elements promote against the double literals), reproducible across
    engines — a DuckDB query can replay the identical expressions.
    An array whose length disagrees with the frame raises AT ROW LEVEL
    (``raise_error``) instead of letting ``element_at`` past the frame
    NULL-poison downstream aggregates."""
    if len(lo) != len(hi):
        raise ValueError("scale_features: lo/hi length mismatch")
    lo_arr = F.array(*[F.lit(float(v)) for v in lo])
    hi_arr = F.array(*[F.lit(float(v)) for v in hi])

    def scale(x, i):
        lo_i = F.element_at(lo_arr, i + 1)
        hi_i = F.element_at(hi_arr, i + 1)
        return F.when(hi_i == lo_i, F.lit(0.5)).otherwise(
            (x - lo_i) / (hi_i - lo_i)
        )

    scaled = F.when(
        F.size(F.col(col)) == len(lo), F.transform(F.col(col), scale)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"scale_features: array length != frame dim {len(lo)}: "
                ),
                F.size(F.col(col)).cast("string"),
            )
        )
    )
    return df.withColumn(out_col, scaled)
