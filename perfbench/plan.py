"""Seeded operation plans: what the JVM harness runs, derived only from the
workload name and `--seed`. The tables never change with the seed; the seed
sets each pass's key order and, for `store`, every batch slice, retract set,
probe point and range."""
import random

# The analysis keys whose time is the engine's stage chain: VardaOps
# interval intersection, the Vcf reader, the GlobalRank sweep behind the
# global rank and the quartiles, and the iterative graph loop. Few cheap
# keys, so a run pays one cold pass over them and then reaches MIN_SAMPLES
# timed samples in four passes. Their warm latencies are one short and
# four near one another, so the pooled p50 falls inside that group rather
# than in a gap between two keys.
ONESHOT = ["varda_region_intersect", "win_global_rank", "agg_quartiles",
           "source_vcf_file", "graph_pagerank"]

PASS_KEYS = {"oneshot": ONESHOT}
WORKLOADS = sorted(PASS_KEYS) + ["store"]

# enough per-key samples for a p50 with ten samples beyond it
MIN_SAMPLES = 20
MAX_PASSES = 64

SAMPLES = list(range(20))   # the varda fixture's sample universe
INITIAL = 15                # samples imported during set-up
CYCLE_MOVES = 2             # samples committed and retracted per cycle
MIN_CYCLES = 1
MAX_CYCLES = 64


def rng_for(workload, seed):
    return random.Random(f"{workload}:{seed}")


def pass_plan(workload, seed):
    keys = PASS_KEYS[workload]
    rng = rng_for(workload, seed)
    return {"keys": rng.sample(keys, len(keys)),
            "passes": [rng.sample(keys, len(keys)) for _ in range(MAX_PASSES)],
            "min_samples": MIN_SAMPLES, "heap_after": min_passes(workload) - 1}


def min_passes(workload):
    """The timed passes (store: cycles) every run makes, however fast. The
    live heap is sampled after set-up and after the last of these only: it
    grows with the queries run, and the pass count with the run's speed."""
    if workload == "store":
        return MIN_CYCLES
    return -(-MIN_SAMPLES // len(PASS_KEYS[workload]))


def _probes(rng, pool, points=16, ranges=4):
    pts = rng.sample(pool, points)
    chroms = sorted({c for c, _ in pool})
    spans = []
    for _ in range(ranges):
        b = rng.randrange(1000, 99000)
        spans.append([rng.choice(chroms), b, b + 1999])
    return {"points": [list(p) for p in pts], "point_batch": 4, "ranges": spans}


def store_plan(seed, pool):
    """`pool`: the fixture's observed (chromosome, position) points, sorted."""
    rng = rng_for("store", seed)
    order = rng.sample(SAMPLES, len(SAMPLES))
    present, held = sorted(order[:INITIAL]), sorted(order[INITIAL:])
    plan = {"samples": SAMPLES, "initial": [present],
            # one lookup of each kind warms the read path before timing
            "warmup": _probes(rng, pool, points=4, ranges=1), "min_cycles": MIN_CYCLES,
            "heap_after": min_passes("store") - 1, "cycles": []}
    for _ in range(MAX_CYCLES):
        add = sorted(rng.sample(held, CYCLE_MOVES))
        drop = sorted(rng.sample(present, CYCLE_MOVES))
        present = sorted((set(present) - set(drop)) | set(add))
        held = sorted((set(held) - set(add)) | set(drop))
        plan["cycles"].append(dict(add=add, drop=drop, **_probes(rng, pool)))
    return plan
