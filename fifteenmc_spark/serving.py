"""Serving warm-up: build every session-index artifact up front.

A serving session (the online ANN path in streaming/ann.py, a dashboard
issuing the declared queries, the driver's correctness sweep) otherwise
pays each index build inside whichever query touches it first.  One call
here materializes the shared feeds — gated corpus, LSH signature table,
IVF cells, exact-eval ground truth, shingle/MinHash/SimHash tables — so
every later query runs at its warm cost.  This is the session twin of a
lake pipeline's "build the index tables, then open the query endpoint"
startup, and it is deliberately an explicit call: nothing in the engine
warms implicitly, so batch-only sessions never pay for artifacts they
don't use.

Returns {artifact: row_count} — the counts are the materializing actions,
and non-zero counts double as a cheap ingest sanity check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .operators.dedup import _max_df, minhash_sig_index, shingle_index, simhash_code_index
from .operators.similarity import (
    N_CELLS,
    N_PROBE,
    N_QUERY_VECS,
    SEED,
    SERVING,
    SIG_PLANES,
    TIVF_SEED_POOL,
    TRAINED,
    V12_NQ,
    V25_NPROBE,
    _adaptive_filtered_topk_plan,
    _emb,
    _exact_topk,
    _exact_topk_v12,
    _ivfpq_topk_plan,
    _pq_index,
    _rpq_index,
    _sig,
    _tivf_cells_probes,
    _tivf_centroids,
    _tivf_topk_plan,
)

# The serving layout is the SERVING quantizer (operators/similarity.py):
# 32 spherical-k-means-trained cells.  Each step to it acted on a
# measurement — trained over seed cells (v20: 2-probe
# membership recall 0.35 -> 0.51; v21: composed IVFADC recall@5
# 0.27 -> 0.38 at identical nprobe/bytes/shortlist), then ncells 8 -> 16
# -> 32 at CONSTANT scan fraction (v24: membership 0.520 -> 0.608 at
# sf0.01, 0.572 -> 0.600 at sf0.001; composed v21-shape recall@5
# 0.408 -> 0.460 and 0.400 -> 0.404, test-gated strictly-no-worse in
# test_serving_default.py).  SERVING_NPROBE holds the scan fraction at
# the 8-cell calibration layout's nprobe/ncells = 2/8: a serving query
# still reads 25% of the index — the recall gain is pure quantizer
# capacity, not extra bytes.  The 8-cell queries (v5/v13 seed, v19/v21
# trained) stay registered as calibration baselines.
SERVING_NCELLS = len(SERVING.seeds)
SERVING_NPROBE = V25_NPROBE  # ncells / 4: the calibration scan fraction

# The corpus-adaptive capacity rule (r15, acting on the banked r14
# ncells_axis receipts).  At 100 TB ncells is the knob that must GROW
# with the corpus (FAISS sizes it ~sqrt(N)); a fixed 32 is right for the
# declared eval corpora (500-2000 vectors: sqrt(N) = 22-45, so 64 cells
# starves) and wrong for a grown one (the 20k-vector synth corpus
# measured membership recall 0.584/0.656/0.728/0.796 at 16/32/64/128
# cells, constant 25% scan, with the composed v21-shape IVFADC
# strictly-no-worse gate PASSING for 64-vs-32 — SCALE_SLOPE.json
# ncells_axis).  The rule flips only through gate-validated steps:
# - floor = SERVING_NCELLS (32): gate-measured strictly-no-worse on
#   every declared corpus (the r12/r13 flip chain), never size down;
# - 64 engages at n_vectors >= 64^2 (the sqrt-N support bound) — the
#   composed 64-vs-32 gate receipt is banked;
# - deeper layouts (128: membership recall rises, composed gate banked
#   r15) engage the same way, each step requiring its own composed
#   receipt before joining the ladder.
SERVING_NCELLS_LADDER = (32, 64, 128)


def serving_ncells_for(n_vectors: int) -> int:
    """The serving cell count for a corpus of ``n_vectors``: the deepest
    gate-validated ladder entry c with c*c <= n_vectors (sqrt-N support),
    floored at the declared SERVING_NCELLS.  Declared corpora (500-2000
    vectors) size to exactly SERVING_NCELLS, so the declared v25-v29
    contract and its oracles are unchanged by construction."""
    best = SERVING_NCELLS
    for c in SERVING_NCELLS_LADDER:
        if c * c <= n_vectors:
            best = c
    return best


def serving_seeds_for(n_vectors: int) -> tuple:
    """The seed pool for :func:`serving_ncells_for`'s layout: the first
    ncells ids of the extended deterministic pool (declared
    TIVF_SEED_POOL first — so any layout's first 32 cells ARE the
    declared calibration construction — extended past 32 on the same
    deterministic stride the ncells_axis measurement used, every id
    < 500 so it exists at every SF and in every synth corpus)."""
    n = serving_ncells_for(n_vectors)
    pool = list(TIVF_SEED_POOL)
    j = 0
    while len(pool) < n:
        cand = (j * 7 + 3) % 500
        if cand not in pool:
            pool.append(cand)
        j += 1
    return tuple(pool[:n])


def serving_cells_probes(
    spark: SparkSession, sf_dir: str, max_probe: int | None = None, nq: int | None = None
):
    """(e, cells, probes) of the SERVING quantizer — the single dispatch
    point batch plans and index builders share, so 'which cells does
    serving use' is answered in exactly one place.  ``max_probe``
    defaults to SERVING_NPROBE (the constant-scan-fraction probe
    count)."""
    mp = SERVING_NPROBE if max_probe is None else max_probe
    return _tivf_cells_probes(spark, sf_dir, SERVING, mp, N_QUERY_VECS if nq is None else nq)


def filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILTERED ANN serving default: label-predicate search at the
    serving layout with the per-predicate probe dispatch (v29 — v28's
    recall measurement acted on).  Each query's probe depth scales with
    its label slice's selectivity under a constant candidate budget,
    clamped to [SERVING_NPROBE, SERVING_NCELLS]; unselective predicates
    serve at exactly the fixed-nprobe v27 plan.  Row-equality pinned to
    the declared query v29 in test_serving_default."""
    return _adaptive_filtered_topk_plan(
        spark, sf_dir, quantizer=SERVING, base_nprobe=SERVING_NPROBE
    )


def serving_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The SERVING quantizer's centroid table collected as the
    broadcast-small closure constant the streaming tiers take
    ((cid, vector) sorted by cid — n_cells x dim, a few KB).  Streaming
    ann/pq_ann stay quantizer-agnostic operators; this is where a
    serving session gets 'the' centroids without naming a quantizer."""
    rows = _tivf_centroids(spark, sf_dir, SERVING).orderBy("cid").collect()
    return [(r["cid"], list(r["cwe"])) for r in rows]


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch ANN serving default: cell-probe top-k with exact
    in-cell cosine over the SERVING quantizer at SERVING_NPROBE probes
    (v19's plan shape at the v24-measured capacity; v19/v5 are the
    8-cell calibration baselines)."""
    return _tivf_topk_plan(spark, sf_dir, SERVING, SERVING_NPROBE)


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The codes-only (IVFADC) serving default: SERVING-quantizer cells
    x raw PQ codes x exact shortlist re-rank (v21's plan shape at the
    v24-measured capacity; v21/v13 are the 8-cell calibration
    baselines)."""
    return _ivfpq_topk_plan(spark, sf_dir, SERVING, nprobe=SERVING_NPROBE)


def warm_session_index(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    counts: dict[str, int] = {}
    counts["emb"] = _emb(spark, sf_dir).count()
    counts[f"sig{SIG_PLANES}"] = _sig(spark, sf_dir, SIG_PLANES).count()
    # the 8-cell calibration quantizers: search probes, eval probes, and
    # the full-probe table the fused nprobe sweeps (v18/v22) read
    for name, q in (("ivf", SEED), ("tivf", TRAINED)):
        _, cells, probes = _tivf_cells_probes(spark, sf_dir, q, N_PROBE)
        counts[f"{name}_cells"] = cells.count()
        counts[f"{name}_probes"] = probes.count()
        _, _, probes_w = _tivf_cells_probes(spark, sf_dir, q, N_PROBE, V12_NQ)
        counts[f"{name}_probes_eval"] = probes_w.count()
        _, _, probes_sweep = _tivf_cells_probes(spark, sf_dir, q, N_CELLS, V12_NQ)
        counts[f"{name}_probes_sweep"] = probes_sweep.count()
    # the SERVING layout — what ann_topk/ivfpq_topk and the streaming
    # tiers actually serve
    _, scells, sprobes = serving_cells_probes(spark, sf_dir)
    counts[f"tivf{SERVING_NCELLS}_cells"] = scells.count()
    counts[f"tivf{SERVING_NCELLS}_probes"] = sprobes.count()
    _, _, pq_codes = _pq_index(spark, sf_dir)
    counts["pq_codes"] = pq_codes.count()
    counts["rpq_codes"] = _rpq_index(spark, sf_dir, SEED)[2].count()
    counts["trpq_codes"] = _rpq_index(spark, sf_dir, TRAINED)[2].count()
    counts["exact_topk"] = _exact_topk(spark, sf_dir).count()
    counts["exact_topk_v12"] = _exact_topk_v12(spark, sf_dir).count()
    counts["shingles"] = shingle_index(spark, sf_dir).count()
    counts["mh_sig16"] = minhash_sig_index(spark, sf_dir).count()
    counts["simhash16"] = simhash_code_index(spark, sf_dir).count()
    counts["simhash64"] = simhash_code_index(spark, sf_dir, wide=True).count()
    _max_df(spark, sf_dir)  # scalar stat; cached, nothing to count
    return counts
