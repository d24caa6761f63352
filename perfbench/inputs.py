"""Inputs: the fixed events table the serve workload reads, and the
seeded schedules (API requests; paced ingest arrivals).

A schedule is a pure function of the seed and the run length, and its
digest is printed with every result, so two runs with the same seed can
be shown to have replayed the same load.
"""
import datetime
import hashlib
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# The sf0.1 events table, as measured (perfbench/README.md): 100,000
# rows, event_id 0..99,999, ts over the 30 days from 2024-01-01, user_id
# 0..1,499, 5 event types about 20k rows each, value exponential-like
# (mean 49.87, median 34.77, max 560.21), props '{"k": N}' with 100
# distinct N. The table is written with ts as INT64 TIMESTAMP(NANOS),
# the type of the SparkEntry fixture's events file, which Tables.events reads
# as a long under spark.sql.legacy.parquet.nanosAsLong.
EVENT_ROWS = 100_000
EVENT_DAYS = 30
USERS = 1500
TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH = datetime.datetime(2024, 1, 1)
EPOCH_MS = int(EPOCH.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
HOUR_MS = 3_600_000
DATASET = f"events-{EVENT_ROWS}-{EVENT_DAYS}d-{USERS}u-{len(TYPES)}t-ns"

# Open-loop load. The serve calls are whole permutations of the eight
# routes spread evenly over the run at about 2.7 calls/s, about a third of
# what four client threads sustain on a 4-core VM; 579 ev/s is the
# reference's highest tested ingest rate (its Dockerfile.generator).
SERVE_RATE = 2.7
SERVE_SAT_CALLS = 32
INGEST_RATE = 579.0

ROUTES = ["topk_global", "topk_restaurant", "topk_revenue", "distinct",
          "distinct_exact", "percentiles", "quantile", "quantile_approx"]


def request_keys():
    """Every (route, tenant, range, k) the serve mix draws from.

    A range is `d` (the route's default: the last hour, or the last 3
    days for distinct_exact) or `h<N>`: [anchor - N h, anchor + 1 h).
    """
    tenants = ["all"] + TYPES
    keys = [("topk_global", "all", r, k) for r in ("d", "h24") for k in (3, 10)]
    keys += [("topk_restaurant", t, r, k)
             for t in TYPES for r in ("h24", "h72") for k in (3, 10)]
    keys += [("topk_revenue", t, "h72", 10) for t in tenants]
    keys += [("distinct", t, r, 0) for t in tenants for r in ("d", "h24")]
    keys += [("distinct_exact", t, r, 0) for t in tenants for r in ("d", "h72")]
    keys += [("percentiles", "all", "d", 0)]
    keys += [("percentiles", t, "h24", 0) for t in tenants]
    keys += [("quantile", t, "h24", 0) for t in tenants]
    keys += [("quantile_approx", t, "h24", 0) for t in tenants]
    return keys


def arrivals(rng, n, seconds):
    """n arrival offsets (ms) over [0, seconds), each at a seeded
    uniform point of its own slot, so the offered load is the same for
    every seed."""
    return [(i + rng.random()) * seconds * 1000.0 / n for i in range(n)]


def write_events(path):
    """The serving dataset: fixed (seed 0), like the sf0.1 table it
    mirrors; returns its newest event time (epoch ms). Times are whole
    microseconds, stored as nanoseconds."""
    rng = random.Random(0)
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    offs = sorted(rng.randrange(span_us) for _ in range(EVENT_ROWS))
    base_us = EPOCH_MS * 1000
    table = pa.table({
        "event_id": pa.array(range(EVENT_ROWS), pa.int64()),
        "ts": pa.array([(base_us + o) * 1000 for o in offs], pa.timestamp("ns")),
        "user_id": pa.array([rng.randrange(USERS) for _ in offs], pa.int64()),
        "event_type": pa.array([rng.choice(TYPES) for _ in offs], pa.string()),
        "value": pa.array([round(min(rng.expovariate(1 / 50.0), 600.0), 2)
                           for _ in offs], pa.float64()),
        "props": pa.array(['{"k": %d}' % rng.randrange(100) for _ in offs],
                          pa.string()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return (base_us + offs[-1]) // 1000


def serve_calls(seconds):
    """Timed calls of a run: whole permutations of the routes at about
    SERVE_RATE calls/s."""
    return len(ROUTES) * max(1, round(SERVE_RATE * seconds / len(ROUTES)))


def request_schedule(rng, seconds):
    """Warm-up candidates, the timed open-loop calls and the saturation
    calls. Routes come in seeded permutations of all eight and the
    timed calls are a whole number of permutations, so every seed
    offers the same route mix at the same rate. A route's keys fall
    into strata of like cost (range, tenant `all` or one type); its
    calls take the strata in turn, in a seeded order, so the seed picks
    the order and the parameters but hardly moves the work offered."""
    strata = {}
    for k in request_keys():
        strata.setdefault(k[0], {}).setdefault((k[2], k[1] == "all"), []).append(k)
    turn = {r: [rng.sample(list(g.values()), len(g)), 0] for r, g in strata.items()}

    def pick(route):
        order, i = turn[route]
        turn[route][1] += 1
        return rng.choice(order[i % len(order)])

    def draw(n):
        routes = []
        while len(routes) < n:
            routes += rng.sample(ROUTES, len(ROUTES))
        return [pick(r) for r in routes[:n]]

    # warm-up candidates: the first key of every (route, tenant)
    warm = list({(k[0], k[1]): k for k in reversed(request_keys())}.values())[::-1]
    # evenly spaced due times: with seeded jitter, near-simultaneous
    # arrivals of two slow routes decided the tail of a run
    n = serve_calls(seconds)
    offsets = [(i + 0.5) * seconds * 1000.0 / n for i in range(n)]
    return warm, list(zip(offsets, draw(n))), draw(SERVE_SAT_CALLS)


def write_requests(path, anchor_ms, groups):
    with open(path, "w") as f:
        for kind, rows in groups:
            for due, (route, tenant, rng_code, k) in rows:
                f.write(f"{kind}\t{due:.3f}\t{route}\t{tenant}\t"
                        f"{range_bounds(rng_code, anchor_ms)}\t{k}\n")


def first_calls(path, anchor_ms):
    """One call per route: the serving root's cold start makes them."""
    firsts = [next(k for k in request_keys() if k[0] == r) for r in ROUTES]
    write_requests(path, anchor_ms, [("first", [(0.0, k) for k in firsts])])


def generate(workload, seed, seconds, run_dir, anchor_ms=None):
    """Write the workload's seeded schedule under run_dir; return its
    path and the digest of everything the program is fed (for serve,
    `anchor_ms` is the fixed dataset's newest event time)."""
    rng = random.Random(f"{workload}:{seed}")
    if workload == "serve":
        warm, timed, sat = request_schedule(rng, seconds)
        path = os.path.join(run_dir, "requests.tsv")
        write_requests(path, anchor_ms, [("warm", [(0.0, k) for k in warm]), ("timed", timed),
                                         ("sat", [(0.0, k) for k in sat])])
    else:
        path = os.path.join(run_dir, "ingest_due.txt")
        with open(path, "w") as f:
            for due in arrivals(rng, int(round(INGEST_RATE * seconds)), seconds):
                f.write(f"{due:.3f}\n")
    with open(path, "rb") as f:
        return path, hashlib.sha256(f.read()).hexdigest()[:16]


def range_bounds(code, anchor_ms):
    """`d` stays symbolic (the route's default range); `h<N>` becomes
    explicit `from,to` epoch-ms bounds."""
    if code == "d":
        return "d"
    hours = int(code[1:])
    return f"{anchor_ms - hours * HOUR_MS},{anchor_ms + HOUR_MS}"
