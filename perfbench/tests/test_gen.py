"""Generator determinism, replica disjointness and the lake model."""

from __future__ import annotations

import hashlib
import os

import duckdb
import pytest

from perfbench import gen


def _digests(directory: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()
    return out


def _replica(seed: int) -> dict:
    return gen.make_replica(gen.make_tables(seed, 40, 30), seed, 4)


def test_tables_and_replica_are_byte_identical_per_seed(tmp_path):
    for run in ("a", "b"):
        gen.write_tables(_replica(3), str(tmp_path / run))
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    gen.write_tables(_replica(4), str(tmp_path / "c"))
    assert _digests(str(tmp_path / "a")) != _digests(str(tmp_path / "c"))


def test_lake_files_are_byte_identical_per_seed(tmp_path):
    for run in ("a", "b"):
        plan = gen.make_lake_plan(5, 500, 2, 50, 40, 10)
        gen.write_lake_plan(plan, str(tmp_path / run))
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))


def test_replicas_share_no_shingles_and_ids_are_dense():
    rep = 4
    base = gen.make_tables(9, 40, 30)
    out = gen.make_replica(base, 9, rep)
    docs, emb = out["documents"], out["embeddings"]
    assert docs["doc_id"].to_pylist() == list(range(40 * rep))
    assert emb["vec_id"].to_pylist() == list(range(30 * rep))
    slot = gen.replica_params(9, rep)["remap"]
    vocab = {}
    for doc_id, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        vocab.setdefault(slot.index(doc_id % rep), set()).update(text.split(" "))
    for i in range(rep):
        for j in range(i + 1, rep):
            assert not vocab[i] & vocab[j], (i, j)
    # replica 0 is the base corpus itself
    orig = dict(zip(base["documents"]["doc_id"].to_pylist(), base["documents"]["text"].to_pylist()))
    for doc_id, text in zip(docs["doc_id"].to_pylist(), docs["text"].to_pylist()):
        if doc_id % rep == slot[0]:
            assert text == orig[doc_id // rep]


@pytest.mark.parametrize("seed", [1, 2])
def test_expected_state_matches_last_wins_plus_tombstone_query(tmp_path, seed):
    plan = gen.make_lake_plan(seed, 400, 3, 60, 50, 30)
    files = gen.write_lake_plan(plan, str(tmp_path))
    con = duckdb.connect()
    parts = [f"SELECT *, false AS _deleted, 0 AS step FROM read_parquet('{files['base']}')"]
    for d, (ch, tb) in enumerate(zip(files["changes"], files["tombstones"])):
        parts.append(f"SELECT *, false AS _deleted, {2 * d + 1} AS step FROM read_parquet('{ch}')")
        parts.append(f"SELECT *, {2 * d + 2} AS step FROM read_parquet('{tb}')")
    log = " UNION ALL BY NAME ".join(parts)
    for step, state in enumerate(plan.states):
        rows = con.execute(
            f"""
            WITH log AS ({log}),
            ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY event_id ORDER BY ts DESC, value DESC) AS rn
              FROM log WHERE step <= {step})
            SELECT event_id, epoch_us(ts), user_id, event_type, value
            FROM ranked WHERE rn = 1 AND NOT _deleted
            """
        ).fetchall()
        want = {r[0]: tuple(r[1:]) for r in rows}
        assert state == want, f"step {step}"
        assert gen.state_fingerprint(state) == gen.state_fingerprint(want)
    # the plan really exercises updates, inserts and deletes
    assert len(plan.states[-1]) == 400 + 3 * 50 - 3 * 30
