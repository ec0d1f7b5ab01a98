"""Seeded input generators for the benchmark.

Every generator is a pure function of its seed: the same seed writes
byte-identical parquet files (fixed column order, fixed row-group size,
no timestamps or random ids in file metadata). Nothing here touches the
program under test; the files are the only thing the program sees.

- ``make_tables``: the ten fixture tables (``region`` .. ``embeddings``)
  in the shape and value distributions of the repo's fixture family
  (TPC-H-like star schema, an ``events`` fact, a 31-word document
  corpus with 5% ``" dup"`` near-duplicates, unit 64-d embeddings).
- ``make_replica``: the x``rep`` replica of ``documents``/``embeddings``
  built like ``scripts/bench_scale.py::build_fixture``: replicas share
  no shingles (every token of replica ``i`` carries a suffix), vectors
  are shifted by a per-replica constant, and ids/labels are remapped
  densely. The seed derives the suffixes, shifts and the id remap.
- ``make_lake_plan``: the ``lake_writes`` input: a base events table, per-day
  change files (updates of live keys plus inserts of new keys) and CDC
  tombstones, with the expected table state after every step.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes of one fixture unit, matching the repo fixture at sf0.01.
BASE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "es", "fr", "zh", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE")
PART_ADJ = ("blue", "old", "red", "small", "new", "hot", "large", "cold")
PART_NOUN = ("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")
PART_TYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
EMBED_DIM = 64
DUP_FRAC = 0.05

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
TS_ORIGIN_US = int(_EPOCH_2024)  # fingerprints sum timestamps from here


def _write(table: pa.Table, path: str) -> None:
    # One row group and fixed options: the bytes depend on the data only.
    pq.write_table(
        table,
        path,
        compression="snappy",
        row_group_size=max(1, table.num_rows),
        store_schema=False,
    )


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: tuple, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    # near-duplicates: a copy of another document with one extra token
    n_dup = int(round(n * DUP_FRAC))
    dups = rng.choice(n, n_dup, replace=False)
    for i in dups:
        j = int(rng.integers(0, n))
        while j == i:
            j = int(rng.integers(0, n))
        texts[i] = texts[j] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": pa.array(texts, type=pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), type=pa.int32()),
        }
    )


def make_tables(seed: int, docs: int = 500, vecs: int = 500) -> dict[str, pa.Table]:
    """The ten fixture tables for ``seed`` at the fixture's sf0.01 sizes,
    with ``docs`` documents and ``vecs`` embeddings."""
    rng = np.random.default_rng([seed, 1])
    n = dict(BASE_ROWS, documents=docs, embeddings=vecs)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), type=pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), type=pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], type=pa.int32()),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(c, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), type=pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(s, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), type=pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), type=pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )
    o = n["orders"]
    order_days = 2399  # 1995-01-01 .. 2001-07-28, as in the fixture
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(o, dtype=np.int64),
            "o_custkey": rng.integers(0, c, o).astype(np.int64),
            "o_orderstatus": _pick(rng, ("O", "F", "P"), o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, order_days, o) * _US_PER_DAY),
            "o_orderpriority": _pick(rng, PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, o, li).astype(np.int64),
            "l_partkey": rng.integers(0, p, li).astype(np.int64),
            "l_suppkey": rng.integers(0, s, li).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), type=pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(rng, ("R", "A", "N"), li),
            "l_linestatus": _pick(rng, ("F", "O"), li),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, li) * _US_PER_DAY),
        }
    )
    e = n["events"]
    users = max(1, int(e * 0.015))
    t["events"] = pa.table(
        {
            "event_id": np.arange(e, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, e))),
            "user_id": rng.integers(0, users, e).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


def replica_params(seed: int, rep: int) -> dict:
    """Per-replica token suffix, vector shift and id slot for ``seed``.
    Replica slot ``remap[i]`` gives the dense id ``id * rep + remap[i]``."""
    rng = np.random.default_rng([seed, 2])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    suffixes: list[str] = []
    while len(suffixes) < rep - 1:
        s = "".join(rng.choice(letters, 3))
        if s not in suffixes:
            suffixes.append(s)
    return {
        "suffix": [None] + suffixes,
        "shift": [0.0] + [float(x) for x in np.round(rng.uniform(-0.009, 0.009, rep - 1), 4)],
        "remap": [int(x) for x in rng.permutation(rep)],
    }


def make_replica(tables: dict[str, pa.Table], seed: int, rep: int) -> dict[str, pa.Table]:
    """x``rep`` replica of ``documents``/``embeddings``; other tables as given."""
    prm = replica_params(seed, rep)
    docs, emb = tables["documents"], tables["embeddings"]
    d_ids = docs["doc_id"].to_numpy()
    d_text = docs["text"].to_pylist()
    parts = []
    for i in range(rep):
        suf = prm["suffix"][i]
        text = d_text if suf is None else [
            " ".join(f"{w}_{suf}" for w in t.split(" ")) for t in d_text
        ]
        parts.append(
            pa.table(
                {
                    "doc_id": d_ids * rep + prm["remap"][i],
                    "text": pa.array(text, type=pa.string()),
                    "lang": docs["lang"],
                    "source": docs["source"],
                    "n_chars": pa.array([len(x) for x in text], type=pa.int64()),
                }
            )
        )
    new_docs = pa.concat_tables(parts)
    new_docs = new_docs.take(np.argsort(new_docs["doc_id"].to_numpy(), kind="stable"))
    e_ids = emb["vec_id"].to_numpy()
    e_vec = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float32)
    e_lab = emb["label"].to_numpy()
    eparts = []
    for i in range(rep):
        v = (e_vec + np.float32(prm["shift"][i])).astype(np.float32)
        eparts.append(
            pa.table(
                {
                    "vec_id": e_ids * rep + prm["remap"][i],
                    "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
                    "label": pa.array(e_lab * rep + prm["remap"][i], type=pa.int32()),
                }
            )
        )
    new_emb = pa.concat_tables(eparts)
    new_emb = new_emb.take(np.argsort(new_emb["vec_id"].to_numpy(), kind="stable"))
    out = dict(tables)
    out["documents"] = new_docs
    out["embeddings"] = new_emb
    return out


# ---------------------------------------------------------------------------
# lake_writes
# ---------------------------------------------------------------------------

LAKE_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
    ]
)


@dataclass
class LakePlan:
    """Inputs of one ``lake_writes`` pass plus the expected state.

    ``states[0]`` is the table after the seed merge; ``states[2*d+1]``
    after day ``d``'s stream drain and ``states[2*d+2]`` after its CDC
    tombstones. Each state maps ``event_id`` to
    ``(ts_us, user_id, event_type, value)``.
    """

    base: pa.Table
    changes: list[pa.Table] = field(default_factory=list)
    tombstones: list[pa.Table] = field(default_factory=list)
    states: list[dict] = field(default_factory=list)


def _rows(t: pa.Table):
    ids = t["event_id"].to_numpy().tolist()
    ts = t["ts"].cast(pa.int64()).to_numpy().tolist()
    users = t["user_id"].to_numpy().tolist()
    types = t["event_type"].to_pylist()
    values = t["value"].to_numpy().tolist()
    return zip(ids, zip(ts, users, types, values))


def apply_changes(state: dict, rows: pa.Table, deleted: bool) -> dict:
    """The expected-state model: per key the newest ``(ts, value)``
    wins; a winning tombstone removes the key."""
    out = dict(state)
    for eid, rec in _rows(rows):
        cur = out.get(eid)
        if cur is not None and (cur[0], cur[3]) >= (rec[0], rec[3]):
            continue
        if deleted:
            if cur is not None:
                del out[eid]
        else:
            out[eid] = rec
    return out


def make_lake_plan(
    seed: int, base_rows: int, days: int, updates: int, inserts: int, tombstones: int
) -> LakePlan:
    rng = np.random.default_rng([seed, 3])
    users = max(1, base_rows // 60)

    def batch(ids: np.ndarray, ts_us: np.ndarray) -> pa.Table:
        k = len(ids)
        return pa.table(
            {
                "event_id": ids.astype(np.int64),
                "ts": _ts(ts_us),
                "user_id": rng.integers(0, users, k).astype(np.int64),
                "event_type": _pick(rng, EVENT_TYPES, k),
                "value": np.round(rng.exponential(50.0, k), 2),
            },
            schema=LAKE_SCHEMA,
        )

    base = batch(
        np.arange(base_rows),
        _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, base_rows)),
    )
    plan = LakePlan(base=base)
    state = apply_changes({}, base, deleted=False)
    plan.states.append(state)
    next_id = base_rows
    for d in range(days):
        day0 = _EPOCH_2024 + (31 + d) * _US_PER_DAY
        live = np.array(sorted(state), dtype=np.int64)
        upd_ids = rng.choice(live, updates, replace=False)
        ins_ids = np.arange(next_id, next_id + inserts)
        next_id += inserts
        ids = np.concatenate([upd_ids, ins_ids])
        ch = batch(ids, day0 + rng.integers(0, _US_PER_DAY // 2, len(ids)))
        ch = ch.take(np.argsort(ch["event_id"].to_numpy(), kind="stable"))
        plan.changes.append(ch)
        state = apply_changes(state, ch, deleted=False)
        plan.states.append(state)
        live = np.array(sorted(state), dtype=np.int64)
        del_ids = np.sort(rng.choice(live, tombstones, replace=False))
        tb = batch(del_ids, day0 + _US_PER_DAY // 2 + rng.integers(0, _US_PER_DAY // 2, tombstones))
        tb = tb.append_column("_deleted", pa.array([True] * tombstones))
        plan.tombstones.append(tb)
        state = apply_changes(state, tb, deleted=True)
        plan.states.append(state)
    return plan


def write_lake_plan(plan: LakePlan, out_dir: str) -> dict:
    """Write the plan's files; returns their paths and byte sizes."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {"base": os.path.join(out_dir, "base.parquet"), "changes": [], "tombstones": []}
    _write(plan.base, paths["base"])
    for d, (ch, tb) in enumerate(zip(plan.changes, plan.tombstones)):
        cp = os.path.join(out_dir, f"changes-{d}.parquet")
        tp = os.path.join(out_dir, f"tombstones-{d}.parquet")
        _write(ch, cp)
        _write(tb, tp)
        paths["changes"].append(cp)
        paths["tombstones"].append(tp)
    return paths


def state_fingerprint(state: dict) -> tuple:
    """Order-free summary of a table state, comparable with the same
    aggregate computed by Spark over the table."""
    n = len(state)
    s_id = sum(state)
    s_ts = sum(r[0] - TS_ORIGIN_US for r in state.values())
    s_user = sum(r[1] for r in state.values())
    s_val = sum(int(round(r[3] * 100)) for r in state.values())
    s_type = sum(len(r[2]) for r in state.values())
    return n, s_id, s_ts, s_user, s_val, s_type
