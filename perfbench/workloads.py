"""The benchmark's workloads: which gate queries a run executes, in which
order, as a pure function of the workload name and the seed.

- gate_mix: per pass, a seeded, cost-stratified sample of the batch gates
  (neither loop nor streaming gates) of graft.SparkEntry.queries, plus the
  loop gates of loop_set(), in one seeded order.
  - Batch part: the batch gates whose reference cost (one run in a warm
    JVM on 4 cores) is at most COST_CAP_S are sorted by that cost and cut
    into STRATA equal-count strata. A pass takes one gate from each stratum
    (the seed picks which), and pass r never repeats a gate of passes
    0..r-1. Every seed therefore runs the same mix of cheap and dearer
    gates. The cap leaves out the heaviest gates (up to 9 s each): one of
    them took a fifth of a pass, so which one a seed drew set the run's
    wall time and slowest query.
  - Loop part: the gates that drive an iterative operator from the driver
    (LOOPS) and cost at most LOOP_CAP_S. Every pass runs all of them, so
    the set does not depend on the seed; only their place in the pass
    does. The other loop gates cost 1.8-22.6 s each, 87 s together.
- curate: the nine-stage graft.Curate chain; it takes no query list.
"""
import random

WORKLOADS = ("gate_mix", "curate")

STRATA = 6
COST_CAP_S = 1.5
LOOP_CAP_S = 1.6

LOOPS = (
    "q_ann_graph", "q_ann_ivf", "q_ann_ivf_trained", "q_ann_ivfadc", "q_kmeans",
    "q_bfs", "q_sssp", "q_topo_layers", "q_pagerank", "q_kcore", "q_hierarchy",
    "q_subtree_rollup", "q_dedup_clusters", "q_dedup_clusters_rep",
    "q_setsim_clusters", "q_image_dedup", "q_dbscan", "q_unigram_train",
    "q_bpe_train", "q_bpe_train_batched", "q_wordpiece_train",
)

# Streaming gates are left out of every workload: each one commits
# micro-batches through a file sink and checkpoint, so its time is bound by
# fsync and swings 2-9 s from run to run.
STREAMING = (
    "q_stream_window", "q_stream_sessionize", "q_stream_dedup",
    "q_stream_neardedup", "q_stream_join", "q_stream_outer_join",
    "q_stream_static_filter", "q_stream_sliding", "q_stream_cdc",
    "q_stream_incremental",
)

CURATE_STAGES = (
    "ingest", "quality_filter", "dedup_exact", "dedup_near", "decontaminate",
    "dsir_select", "mix_epochs", "pack", "manifest",
)


def timed_gates(names):
    """The gates a workload may run: every gate but the streaming ones."""
    return sorted(q for q in names if q not in STREAMING)


def batch_gates(names):
    """The gates that are neither loops nor streaming."""
    return sorted(q for q in names if q not in LOOPS and q not in STREAMING)


def gate_mix_eligible(costs):
    """The gates gate_mix may sample, given {gate: reference seconds}."""
    return [q for q in batch_gates(costs) if costs[q] <= COST_CAP_S]


def loop_set(costs):
    """The loop gates every gate_mix pass runs, given {gate: reference s}."""
    return [q for q in LOOPS if q in costs and costs[q] <= LOOP_CAP_S]


def gate_mix_passes(seed, costs):
    """All gate_mix passes for `seed`, given {gate: reference seconds} of
    every recorded gate. Pass r holds the r-th pick of every stratum and
    the loop set, shuffled together."""
    eligible = gate_mix_eligible(costs)
    ranked = sorted(eligible, key=lambda q: (costs[q], q))
    n = len(ranked)
    if n < STRATA:
        raise ValueError(f"gate_mix needs at least {STRATA} gates, got {n}")
    strata = [ranked[i * n // STRATA:(i + 1) * n // STRATA] for i in range(STRATA)]
    rng = random.Random(seed)
    for s in strata:
        rng.shuffle(s)
    passes = []
    for r in range(min(len(s) for s in strata)):
        picks = [s[r] for s in strata] + loop_set(costs)
        rng.shuffle(picks)
        passes.append(picks)
    return passes


def passes(workload, seed, costs):
    """The query passes a run of `workload` cycles through."""
    if workload == "gate_mix":
        return gate_mix_passes(seed, costs)
    if workload == "curate":
        return []
    raise ValueError(f"unknown workload {workload!r}; expected one of {WORKLOADS}")
