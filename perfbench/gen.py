"""Seeded input generator for the benchmark.

Everything the program under test receives is made here: the
sf0.1-shaped TPC-H-ish tables (same schemas and row counts as the
fixture tables the registry queries are written against, generated
once from DATA_SEED), and from the workload seed a staged plan -- query
order, key ranges, predicate constants, snapshot and branch targets,
wave composition.  The same seed gives byte-identical files; `digest()`
hashes them so two runs can be shown to share their inputs.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 fixture tables.
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMB_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "green", "hot", "cold", "old", "large", "tiny"]
PART_NOUN = ["bolt", "gear", "plate", "ring", "nut", "screw"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ["batch", "part", "spark", "line", "column", "order", "small",
         "sort", "fast", "value", "scan", "a", "hash", "slow", "group",
         "agg", "filter", "query", "big", "key", "window", "row", "table",
         "stream", "merge", "data", "the", "join", "vector", "customer"]

# The tables are generated from this seed (the fixture's); the workload
# seed drives the plans.
DATA_SEED = 42

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")

# Analytics: the lake orders table is built from this many key-range
# slices, one snapshot each, plus one delete committed on a branch.
LAKE_SLICES = 3
ANALYTICS_ROUNDS = 4

# Lake lifecycle: the cycle count the plan carries (far more than any
# run reaches).
LIFECYCLE_CYCLES = 8
LIFECYCLE_BASE_ROWS = 40_000

# Curate ingest: documents arrive in waves; half the embeddings seed
# the ANN index at set-up, the rest arrive with the waves.
CURATE_WAVES = 25


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(rng):
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]})
    sk = np.arange(N_SUPPLIER, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64)
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), N_PART)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), N_PART)]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, N_PART).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})
    ok = np.arange(N_ORDERS, dtype=np.int64)
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[
            rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": EPOCH_1995 + rng.integers(0, 2405, N_ORDERS) * DAY_US,
        "o_orderpriority": np.array(PRIORITIES)[
            rng.integers(0, 5, N_ORDERS)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, N_LINEITEM).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[
            rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": EPOCH_1995 + rng.integers(1, 2499, N_LINEITEM) * DAY_US})
    ts = np.sort(rng.integers(0, 30 * DAY_US, N_EVENTS))
    t["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": EPOCH_2024 + ts,
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(60.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    t["documents"] = make_documents(rng)
    t["embeddings"] = make_embeddings(rng)
    return t


def make_documents(rng):
    """Random-word documents, ~15 % of them near-duplicates (a few words
    changed) of an earlier document, so dedup has real work."""
    words = np.array(WORDS)
    texts = []
    for i in range(N_DOCUMENTS):
        if i > 10 and rng.random() < 0.15:
            src = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                src[j] = words[rng.integers(0, len(words))]
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(8, 90))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    return pa.table({
        "doc_id": np.arange(N_DOCUMENTS, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, N_DOCUMENTS, p=LANG_P)],
        "source": np.char.add("src", rng.integers(0, 20, N_DOCUMENTS)
                              .astype(str)),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})


def make_embeddings(rng):
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM))
    label = rng.integers(0, 10, N_EMBEDDINGS)
    v = centers[label] + rng.normal(0.0, 0.6, (N_EMBEDDINGS, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype(np.int32)})


# ---- staged plans ------------------------------------------------------

def analytics_plan(rng):
    """Lake table layout and, per round, the seeded lake reads; the
    benchmark interleaves them with the round's registry queries using
    the round's shuffle seed."""
    # near-equal key-range slices, each cut jittered by the seed
    step = N_ORDERS // LAKE_SLICES
    bounds = ([0] + [i * step + int(rng.integers(-step // 20, step // 20))
                     for i in range(1, LAKE_SLICES)] + [N_ORDERS])
    branch_at = int(rng.integers(LAKE_SLICES // 3, 2 * LAKE_SLICES // 3))
    # the branch deletes a key range inside the rows it holds
    cut = bounds[branch_at + 1]
    width = cut // 10
    lo = int(rng.integers(0, cut - width))
    branch_delete = [lo, lo + width]
    lake_ops = ["lake_current", "lake_pruned", "lake_as_of", "lake_branch",
                "lake_snapshots", "lake_files"]
    rounds = []
    for _ in range(ANALYTICS_ROUNDS):
        ops = []
        for kind in lake_ops:
            op = {"op": kind}
            if kind == "lake_pruned":
                d0 = int(rng.integers(0, 2040))
                op["from_day"] = d0
                op["to_day"] = d0 + 365
            elif kind == "lake_as_of":
                op["slice"] = LAKE_SLICES // 2
            ops.append(op)
        rounds.append({"shuffle_seed": int(rng.integers(0, 2**31)),
                       "lake_ops": ops})
    return {"workload": "analytics", "slice_bounds": bounds,
            "branch": "audit", "branch_at_slice": branch_at,
            "branch_delete": branch_delete, "rounds": rounds}


def lifecycle_plan(rng):
    """Statements of the lifecycle. Each cycle runs the same multiset of
    commits and of reads, in a seeded order, with fixed sizes and seeded
    key ranges — every cycle does the same amount of work — then the
    maintenance trio. Time-travel and rollback targets are statements of
    the current cycle, so expiry never removes a target."""
    pool_next = LIFECYCLE_BASE_ROWS
    width = LIFECYCLE_BASE_ROWS // 40
    stmts = []
    merges = []

    def base_range():
        a = int(rng.integers(0, LIFECYCLE_BASE_ROWS - width))
        return [a, a + width]

    for _ in range(LIFECYCLE_CYCLES):
        kinds = ["insert", "insert", "delete", "update", "merge", "branch"]
        rng.shuffle(kinds)
        kinds.insert(int(rng.integers(1, len(kinds) + 1)), "rollback")
        reads = ["read_current", "read_range", "read_range", "read_as_of",
                 "read_as_of", "read_snapshots", "read_files"]
        rng.shuffle(reads)
        cycle_commits = []
        for kind, read in zip(kinds, reads):
            if kind == "insert":
                stmts.append({"kind": "insert",
                              "range": [pool_next, pool_next + 2 * width]})
                pool_next += 2 * width
            elif kind == "delete":
                stmts.append({"kind": "delete", "range": base_range()})
            elif kind == "update":
                stmts.append({"kind": "update", "range": base_range(),
                              "delta": float(rng.integers(1, 400)) / 4.0})
            elif kind == "merge":
                hit = rng.choice(pool_next, width // 2, replace=False)
                fresh = np.arange(pool_next, pool_next + width // 4)
                pool_next += width // 4
                keys = np.sort(np.concatenate([hit, fresh])).astype(np.int64)
                merges.append(keys)
                stmts.append({"kind": "merge", "source": len(merges) - 1})
            elif kind == "branch":
                stmts.append({"kind": "create_branch"})
                stmts.append({"kind": "insert", "branch": "dev",
                              "range": [pool_next, pool_next + width]})
                pool_next += width
                stmts.append({"kind": "fast_forward"})
                stmts.append({"kind": "drop_branch"})
            elif kind == "rollback":
                target = cycle_commits[int(rng.integers(0, len(cycle_commits)))]
                stmts.append({"kind": "rollback", "target": target})
            cycle_commits.append(len(stmts) - 1)
            if read == "read_current":
                stmts.append({"kind": "read_current", "range": None})
            elif read == "read_range":
                a = int(rng.integers(0, pool_next - 10 * width))
                stmts.append({"kind": "read_current", "range": [a, a + 10 * width]})
            elif read == "read_as_of":
                stmts.append({"kind": "read_as_of", "target": cycle_commits[
                    int(rng.integers(0, len(cycle_commits)))]})
            else:
                stmts.append({"kind": read})
        for m in ["optimize", "expire_snapshots", "remove_orphan_files"]:
            stmts.append({"kind": m})
        stmts.append({"kind": "read_current", "range": None})
    assert pool_next <= N_ORDERS * 4
    return {"workload": "lake_lifecycle", "base_rows": LIFECYCLE_BASE_ROWS,
            "statements": stmts}, merges


def curate_plan(rng):
    doc_order = rng.permutation(N_DOCUMENTS)
    emb_order = rng.permutation(N_EMBEDDINGS)
    seed_vecs = emb_order[:N_EMBEDDINGS // 2]
    per = np.array_split(doc_order, CURATE_WAVES)
    eper = np.array_split(emb_order[N_EMBEDDINGS // 2:], CURATE_WAVES)
    return {"workload": "curate_ingest",
            "seed_vectors": sorted(int(x) for x in seed_vecs),
            "waves": [{"docs": sorted(int(x) for x in d),
                       "vectors": sorted(int(x) for x in e)}
                      for d, e in zip(per, eper)],
            "sample_budget_tokens": int(rng.integers(20_000, 40_000)),
            "topk_queries": sorted(int(x) for x in
                                   rng.choice(N_EMBEDDINGS, 20, replace=False))}


def _write(table, path):
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _tables(cache_dir):
    """The fixed tables, generated once from DATA_SEED into `cache_dir`
    (keyed by this file's content) and reused by later runs."""
    with open(__file__, "rb") as f:
        key = hashlib.sha256(f.read()).hexdigest()[:12]
    tdir = os.path.join(cache_dir, f"tables-{key}")
    if not os.path.isdir(tdir):
        tmp = f"{tdir}.tmp-{os.getpid()}"
        os.makedirs(tmp)
        for name, tab in make_tables(np.random.default_rng(DATA_SEED)).items():
            _write(tab, os.path.join(tmp, f"{name}.parquet"))
        try:
            os.rename(tmp, tdir)
        except OSError:  # another run won the race
            shutil.rmtree(tmp, ignore_errors=True)
    return tdir


def stage(seed, workload, out_dir, cache_dir):
    """Write the tables and the workload's seeded plan under `out_dir`.
    The tables are the same for every seed, as the sf0.1 fixture is;
    the seed drives everything the workload does with them."""
    shutil.copytree(_tables(cache_dir), os.path.join(out_dir, "tables"),
                    copy_function=os.link)
    tables = {n: pq.read_table(os.path.join(out_dir, "tables", f"{n}.parquet"))
              for n in ("orders", "documents", "embeddings")}
    prng = np.random.default_rng([seed, 1])
    if workload == "analytics":
        plan = analytics_plan(prng)
    elif workload == "lake_lifecycle":
        plan, merges = lifecycle_plan(prng)
        sdir = os.path.join(out_dir, "stage")
        os.makedirs(sdir, exist_ok=True)
        # Insert pool: fresh orders rows keyed past the base table, the
        # orders columns re-keyed so every key is inserted at most once.
        orders = tables["orders"]
        n_pool = N_ORDERS * 4
        idx = np.arange(n_pool) % N_ORDERS
        pool = orders.take(pa.array(idx)).set_column(
            0, "o_orderkey", pa.array(np.arange(n_pool, dtype=np.int64)))
        pq.write_table(pool, os.path.join(sdir, "pool.parquet"),
                       compression="snappy", row_group_size=32_768)
        for i, keys in enumerate(merges):
            src = pool.take(pa.array(keys))
            price = np.round(prng.uniform(1000.0, 500000.0, len(keys)), 2)
            src = src.set_column(3, "o_totalprice", pa.array(price))
            src = src.set_column(2, "o_orderstatus",
                                 pa.array(["M"] * len(keys)))
            _write(src, os.path.join(sdir, f"merge_{i}.parquet"))
    elif workload == "curate_ingest":
        plan = curate_plan(prng)
        wdir = os.path.join(out_dir, "waves")
        os.makedirs(wdir, exist_ok=True)
        for i, w in enumerate(plan["waves"]):
            _write(tables["documents"].take(pa.array(w["docs"])),
                   os.path.join(wdir, f"docs-{i}.parquet"))
            _write(tables["embeddings"].take(pa.array(w["vectors"])),
                   os.path.join(wdir, f"vecs-{i}.parquet"))
    else:
        raise ValueError(f"unknown workload {workload}")
    plan["seed"] = seed
    with open(os.path.join(out_dir, "plan.json"), "w") as f:
        json.dump(plan, f)
    return plan


def digest(out_dir):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(out_dir)):
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, out_dir).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]
