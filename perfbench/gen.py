"""Seeded input generator: the program receives only what this writes.

The same (workload, seed) always writes byte-identical files. The triple
store itself is generated inside the JVM from `seed` and `orders`
(TripleData.scala); this module only needs its key space: order ids
0..orders-1 as `<order_%08d>`, customers as `<cust_%07d>`, 25 nations as
`<nation_%02d>`, and every stored timestamp in [TS_LO, TS_HI). Updates are
stamped at or above TS_HI (fresh, win) or below TS_LO (stale, lose), with
every update timestamp distinct, so no LWW outcome rests on a tie.
"""
import os
import random

TS_LO = 1577836800000
TS_HI = TS_LO + 4 * 365 * 86400000

PARAMS = {
    "orders": 400_000,            # 1,280,025 stored rows
    "serve_shards": 3,            # the reference's 3-way range sharding
    "serve_clients": 2,
    "serve_warmup_ops": 120,
    "serve_warmup_clients": 4,
    "ingest_shards": 16,
    "ingest_warmup_batches": 2,
}
SERVE_OPS = 8000
MERGE_SETS = 8
MERGE_KEYS = 1000
INGEST_BATCHES = 80
BATCH_ROWS = 1000
READBACKS_PER_BATCH = 4
ORDER_PREDICATES = ["<hasStatus>", "<hasPriority>", "<orderedBy>"]


def order(i):
    return "<order_%08d>" % i


def customers(p):
    return max(1, p["orders"] // 10)


def subject_at(p, u):
    """The u-th existing subject: orders, then customers, then nations."""
    if u < p["orders"]:
        return order(u)
    u -= p["orders"]
    return "<cust_%07d>" % u if u < customers(p) else "<nation_%02d>" % (u - customers(p))


def serve(seed, p):
    """Op stream (80% search, 15% upsert, 5% merge) and merge sets."""
    rng = random.Random("serve:%d" % seed)
    n_subjects = p["orders"] + customers(p) + 25
    sets = []
    for s in range(MERGE_SETS):
        k0 = rng.randrange(p["orders"] - 2 * MERGE_KEYS)
        ids = sorted(rng.sample(range(k0, k0 + 2 * MERGE_KEYS), MERGE_KEYS))
        rows = []
        for j, k in enumerate(ids):
            subj = order(k) if rng.random() < 0.95 else order(k)[:-1] + "_new>"
            fresh = rng.random() < 0.5
            ts = TS_HI + 2 * (s * MERGE_KEYS + j) if fresh else TS_LO - 1 - (s * MERGE_KEYS + j)
            rows.append((str(s), subj, "<hasStatus>", "REMOTE-%d-%d" % (s, j), str(ts)))
        sets.extend(rows)
    # the mix is exact in every block of 20 ops, so a short window sees the
    # same share of each op whatever the seed
    kinds = []
    while len(kinds) < SERVE_OPS:
        block = ["search"] * 16 + ["upsert"] * 3 + ["merge"]
        rng.shuffle(block)
        kinds.extend(block)
    ops = []
    for i, kind in enumerate(kinds):
        if kind == "search":
            if rng.random() < 0.10:
                ops.append(("search", order(rng.randrange(p["orders"]))[:-1] + "_gone>"))
            else:
                ops.append(("search", subject_at(p, rng.randrange(n_subjects))))
        elif kind == "upsert":
            pred = rng.choice(ORDER_PREDICATES + ["<hasNote>"])
            ops.append(("upsert", order(rng.randrange(p["orders"])), pred,
                        "UPD-%d" % i, str(TS_HI + 2 * i + 1)))
        else:
            ops.append(("merge", str(rng.randrange(MERGE_SETS))))
    return ops, sets


def shard_range(p, k):
    """Order ids [lo, hi) of order shard k (1-based; shard 0 holds the
    customers and nations, which sort before every order)."""
    n = p["ingest_shards"] - 1
    return (k - 1) * p["orders"] // n, k * p["orders"] // n


def boundaries(p):
    """Cut points of the ingest store's shards: every shard holds about the
    same number of rows (customers and nations are 2 rows per 10 orders'
    30, i.e. one order shard's worth at 16 shards)."""
    return [order(shard_range(p, k)[0]) for k in range(1, p["ingest_shards"])]


def ingest(seed, p):
    """Update batches, each inside one shard's order-id range, and the
    subjects each batch reads back."""
    rng = random.Random("ingest:%d" % seed)
    n = p["ingest_shards"]
    winners = {}   # (subject, predicate) -> ts of the latest fresh update
    clock = 0
    batches, reads = [], []
    for b in range(INGEST_BATCHES):
        lo, hi = shard_range(p, rng.randrange(1, n))
        keys, rows = set(), []
        while len(rows) < BATCH_ROWS:
            r = rng.random()
            clock += 1
            if r < 0.10:
                key = (order(rng.randrange(lo, hi))[:-1] + "_new>", "<hasNote>")
            else:
                key = (order(rng.randrange(lo, hi)), rng.choice(ORDER_PREDICATES))
            if key in keys:
                continue
            keys.add(key)
            if r >= 0.85 and key in winners:
                ts = winners[key] - 1        # older than an earlier batch's update
            elif r >= 0.70 and key[1] != "<hasNote>":
                ts = TS_LO - clock           # older than the stored row
            else:
                ts = TS_HI + 2 * clock
                winners[key] = ts
            rows.append((str(b), key[0], key[1], "B%d-%d" % (b, len(rows)), str(ts)))
        batches.extend(rows)
        for subj in rng.sample(sorted({r[1] for r in rows}), READBACKS_PER_BATCH):
            reads.append((str(b), subj))
    return batches, reads


def gate_entries(root, all_entries=False):
    """Rows (name, module, rows, digest) of gate_expected.tsv: those marked
    for the measured pass, or all of them."""
    path = os.path.join(root, "perfbench", "gate_expected.tsv")
    rows = [l.rstrip("\n").split("\t") for l in open(path) if not l.startswith("#")]
    return [r[:4] for r in rows if all_entries or r[4] == "pass"]


def sf_dir():
    return os.environ.get("GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))


def write_tsv(path, rows):
    with open(path, "w") as f:
        f.writelines("\t".join(r) + "\n" for r in rows)


def generate(workload, seed, out, root, all_entries=False):
    """Writes the inputs of one run of `workload` into directory `out`."""
    os.makedirs(out, exist_ok=True)
    p = dict(PARAMS)
    if workload == "triple_serve":
        ops, sets = serve(seed, p)
        write_tsv(os.path.join(out, "serve_ops.tsv"), ops)
        write_tsv(os.path.join(out, "merge_sets.tsv"), sets)
    elif workload == "triple_ingest":
        batches, reads = ingest(seed, p)
        write_tsv(os.path.join(out, "ingest_batches.tsv"), batches)
        write_tsv(os.path.join(out, "ingest_readback.tsv"), reads)
        write_tsv(os.path.join(out, "ingest_boundaries.txt"), [[b] for b in boundaries(p)])
    elif workload == "gate_sf01":
        d = sf_dir()
        if not os.path.isdir(d):
            raise RuntimeError("gate_sf01 needs the sf0.1 tables at %s (set GRAFT_SF_DIR)" % d)
        p["sf_dir"] = d
        write_tsv(os.path.join(out, "gate_entries.tsv"), gate_entries(root, all_entries))
    else:
        raise ValueError("unknown workload %s" % workload)
    write_tsv(os.path.join(out, "params.txt"), [["%s=%s" % kv] for kv in sorted(p.items())])
