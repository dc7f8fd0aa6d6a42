"""Load generator inputs: the seeded op list of each workload and the answer
each op must return.

Expected answers are computed independently of the program: facts about the
tables come from DuckDB over the same parquet files, and the answers follow
from them in closed form over the hierarchy (region -> nation -> customer ->
order -> line), the linear trust chain, the ABAC subgroup chain and, for the
change stream, a plain in-memory model of the delegation forest. None of this
is timed.

The JVM side sees only the op list (`ops.tsv` / `batches.tsv`); the expected
answers stay here.
"""

import random

import duckdb

# Closed-loop ops are drawn in blocks; every block holds each kind once, so
# the mix, and with it the median, does not depend on the seed. Only the order
# and the parameters do. Equal counts follow the reference harness, which
# times every query the same number of iterations (BASELINE.md, "iterations
# per timed query").
AUTHZ_BLOCK = {"r1": 1, "r5": 1, "j8": 1, "wot": 1, "abac": 1}
# Delegation roots one run serves. Set-up walks each once, so the timed ops
# find the edge and level caches filled.
AUTHZ_ROOTS = 3
CLOSED_OPS = 4000

# Open loop: one change batch every PERIOD_MS, each with these many events,
# 80 change events/s in all. This is a chosen load point: the reference's
# churn ratio and interval live in config it never committed (BASELINE.md,
# "turn-taking / churn"). The program sustains it on a 4-core machine;
# the batch period gives a 10 s window 40 batches, so op_tail_ms is p75.
# Creates equal deletes, so the snapshot keeps its size. Set-up applies
# WARM_BATCHES batches on the same schedule before the window.
PERIOD_MS = 250
WARM_BATCHES = 16
UPDATES, CREATES, DELETES = 16, 2, 2
# Chain depth checked after each batch (dyn_chain_churn's shallowest depth).
DEPTH = 4
FANOUT = 64  # DynamicReplay.DefaultFanout
WOT_MAX = 20  # Prepared.wotPathCount's maxDepth
ABAC_DEPTH = 10  # the r4 shape's closure depth


class Facts:
    """Table facts the expected answers are derived from."""

    def __init__(self, sf):
        con = duckdb.connect()
        for t in ("region", "nation", "customer", "orders", "lineitem"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        q = lambda sql: con.execute(sql).fetchall()
        self.regions = sorted(r for (r,) in q("SELECT r_regionkey FROM region"))
        self.nation_region = dict(q("SELECT n_nationkey, n_regionkey FROM nation"))
        self.cust_nation = dict(q("SELECT c_custkey, c_nationkey FROM customer"))
        # Bag path counts per hierarchy level below each nation root
        # (customers, orders, lines), and customers per region.
        levels = [
            "SELECT c_nationkey, count(*) FROM customer GROUP BY 1",
            "SELECT c_nationkey, count(*) FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY 1",
            "SELECT c_nationkey, count(*) FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey GROUP BY 1",
        ]
        self.level = [dict(q(sql)) for sql in levels]
        self.region_customers = dict(q(
            "SELECT n_regionkey, count(*) FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "GROUP BY 1"))
        con.close()

    def nation_levels(self, n):
        return [lv.get(n, 0) for lv in self.level]


def _blocks(rng, block, n):
    kinds = [k for k, c in block.items() for _ in range(c)]
    out = []
    while len(out) < n:
        b = kinds[:]
        rng.shuffle(b)
        out += b
    return out[:n]


def _r1(f, n):
    return ";".join(sorted(f"{i + 1}:{c}" for i, c in enumerate(f.nation_levels(n)) if c))


def _r5(f, n):
    names = ("Customer", "Order", "Line")
    return ";".join(sorted(f"{names[i]}@{i + 1}:{c}"
                           for i, c in enumerate(f.nation_levels(n)) if c))


def _wot(keys, client, anchor, length):
    """Paths client -> anchor within length hops on the chain E<k> -> E<k+1>."""
    d = anchor - client
    return int(0 < d <= length and all(k in keys for k in range(client, anchor + 1)))


def _abac(f, users, resource):
    """r4 decision: user -> group G<nation>, subgroup chain G<k> -> G<k+1>,
    permission on the top group only, walked within ABAC_DEPTH hops."""
    nations = set(f.nation_region)
    top = max(nations)
    if resource not in {f"RES{r}" for r in set(f.nation_region.values())}:
        return "-"
    granted = []
    for u in users:
        g = f.cust_nation[u]
        ok = g == top or (0 < top - g <= ABAC_DEPTH and
                          all(k in nations for k in range(g, top + 1)))
        if ok:
            granted.append(f"C{u}=1")
    return ",".join(sorted(granted)) or "-"


def _delegation(f, kind, n):
    expect = {"r1": _r1(f, n), "r5": _r5(f, n), "j8": str(f.nation_levels(n)[2])}[kind]
    return (kind, f"N{n}"), expect


def authz_read(f, seed):
    """(warm-up ops, timed ops), each a list of (params, expected answer)."""
    rng = random.Random(seed)
    keys = sorted(f.cust_nation)
    keyset = set(keys)
    roots = rng.sample(sorted(f.nation_region), AUTHZ_ROOTS)
    ops = []
    for kind in _blocks(rng, AUTHZ_BLOCK, CLOSED_OPS):
        if kind in ("r1", "r5", "j8"):
            ops.append(_delegation(f, kind, rng.choice(roots)))
        elif kind == "wot":
            client = rng.choice(keys[:-WOT_MAX])
            anchor = client + rng.randint(1, WOT_MAX)
            length = rng.randint(1, WOT_MAX)
            ops.append(((kind, f"E{client}", f"E{anchor}", str(length)),
                        str(_wot(keyset, client, anchor, length))))
        else:
            users = rng.sample(keys, 4)
            resource = f"RES{rng.choice(f.regions)}"
            ops.append(((kind, ",".join(f"C{u}" for u in users), resource),
                        _abac(f, users, resource)))
    # Depth 4 (r5) fills the level caches r1 and j8 share with it.
    warm = [_delegation(f, "r5", n) for n in roots]
    warm += [next(o for o in ops if o[0][0] == k) for k in ("r1", "j8", "wot", "abac")]
    return warm, ops


def _audit(f, r):
    c = f.region_customers.get(r, 0)
    return ("audit", f"R{r}"), f"reached={c};verified={c}"


def vc_audit(f, seed):
    """(warm-up ops, timed ops): every block of ops audits each region once,
    in seeded order, so the credentials per op do not depend on the seed.
    Set-up audits each region once."""
    rng = random.Random(seed)
    ops = [_audit(f, r) for r in _blocks(rng, {r: 1 for r in f.regions}, CLOSED_OPS)]
    return [_audit(f, r) for r in f.regions], ops


class Forest:
    """Model of the delegation snapshot: drone id -> parent (HQ id or drone id)."""

    def __init__(self, keys):
        self.parent = {}
        self.children = {}
        for k in keys:
            self.set(k, "HQ" if k < FANOUT else str(k - FANOUT))

    def set(self, k, p):
        self.delete(k)
        self.parent[k] = p
        self.children.setdefault(p, set()).add(str(k))

    def delete(self, k):
        old = self.parent.pop(k, None)
        if old is not None:
            self.children[old].discard(str(k))

    def chain_count(self, depth, root="HQ"):
        """Paths of length 1..depth from root (one per node: it is a forest)."""
        n, frontier = 0, [root]
        for _ in range(depth):
            frontier = [c for p in frontier for c in self.children.get(p, ())]
            n += len(frontier)
        return n


def topology_cdc(f, seed, batches):
    """Batches 0..WARM_BATCHES-1 are set-up batches, the next `batches` are
    timed. Each batch's expected answer is the chain count at its depth after
    applying it."""
    rng = random.Random(seed)
    forest = Forest(sorted(f.cust_nation))
    fresh = max(f.cust_nation) + 1
    out = []
    for k in range(WARM_BATCHES + batches):
        live = sorted(forest.parent)
        touched = rng.sample(live, UPDATES + DELETES)
        events = [("u", d, rng.choice(("HQ", "HQB"))) for d in touched[:UPDATES]]
        events += [("d", d, "") for d in touched[UPDATES:]]
        for _ in range(CREATES):
            events.append(("c", fresh, rng.choice(["HQ"] + [str(d) for d in touched[:UPDATES]])))
            fresh += 1
        rng.shuffle(events)
        for op, d, p in events:
            forest.delete(d) if op == "d" else forest.set(d, p)
        out.append((k, DEPTH, events, str(forest.chain_count(DEPTH))))
    return out


def write_closed(ops, path):
    with open(path, "w") as fh:
        for params, _ in ops:
            fh.write("\t".join(params) + "\n")


def write_batches(batches, path):
    with open(path, "w") as fh:
        fh.write(f"period\t{PERIOD_MS}\twarm\t{WARM_BATCHES}\n")
        for k, depth, events, _ in batches:
            ev = "|".join(f"{op}:{d}:{p}" for op, d, p in events)
            fh.write(f"{k}\t{depth}\t{ev}\n")
