"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q                       # everything
    python3 -m pytest perfbench -q -k "not repeat"       # no Spark runs

The generator and check tests need no Spark.  ``test_counts_repeat``
runs each workload twice (traced, one seed) and takes several minutes.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from collections import defaultdict

import pandas as pd
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.harness import Ctx, result_line  # noqa: E402


def _inputs_digest(seed: int, tmp: str) -> str:
    """sha256 over every generated input of every workload for ``seed``."""
    h = hashlib.sha256()
    g = gen.EventsGen(seed)
    base = g.base
    for i in range(3):
        h.update(json.dumps(g.next_batch(), sort_keys=True).encode())
    h.update(json.dumps(gen.rules_rows(seed, g.n_users), sort_keys=True).encode())
    shards, props = gen.crawl_shards(seed, 3, 50)
    h.update(json.dumps([shards, props], sort_keys=True).encode())
    docs = gen.replicate_corpus(seed, gen.base_corpus(seed, 200), 2)
    for name, rows, schema in (("events", base, gen.EVENTS_SCHEMA),
                               ("docs", docs, gen.DOCS_SCHEMA)):
        path = os.path.join(tmp, f"{name}-{seed}.parquet")
        gen.write_table(path, rows, schema)
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a = _inputs_digest(5, str(tmp_path / "a"))
    b = _inputs_digest(5, str(tmp_path / "b"))
    c = _inputs_digest(6, str(tmp_path / "c"))
    assert a == b
    assert a != c


def test_replicas_use_disjoint_token_spaces():
    docs = gen.replicate_corpus(3, gen.base_corpus(3, 50), 3)
    vocab = [set(w for d in docs[k * 50:(k + 1) * 50] for w in d["text"].split()) for k in range(3)]
    shared = (vocab[0] & vocab[1]) | (vocab[1] & vocab[2])
    assert shared <= {"a", "the"}  # stopwords are kept across replicas
    assert len({d["doc_id"] for d in docs}) == 150
    assert [d["n_chars"] for d in docs[50:100]] == [d["n_chars"] for d in docs[:50]]


def test_inputs_are_slices_of_the_sf01_tables():
    events = {r["event_id"]: r for r in gen.sf_events().to_pylist()}
    g = gen.EventsGen(4)
    assert all(events[r["event_id"]] == r for r in g.base)
    wt, batch = g.next_batch()
    assert wt > max(r["writetime"] for r in g.base + g.arrivals)
    new = [r for r in batch if (r["user_id"], r["event_id"]) not in set(g.keys[:g.n_base])]
    assert len(new) == len(batch) - int(len(batch) * g.overwrite_share)
    assert all(events[r["event_id"]]["user_id"] == r["user_id"] for r in batch)

    docs = {d["doc_id"]: d for d in gen.sf_documents()}
    shards, props = gen.crawl_shards(4, 2, 100)
    assert all(docs[d["doc_id"]] == d for d in shards[0])  # shard 0 is sf0.1 as is
    assert props["oov_word_share_after_shard0"] > 0  # from the near re-crawls only
    recrawled = [d for d in shards[1] if d != docs[d["doc_id"]]]
    assert recrawled and all(d["text"] != docs[d["doc_id"]]["text"] for d in recrawled)
    assert all(docs[d["doc_id"]] == d for d in gen.base_corpus(4, 100))


def _events(n_keys: int = 40) -> tuple[pa.Table, list[tuple[int, int]]]:
    rows = []
    for k in range(n_keys):
        for version in range(1 + k % 3):  # some keys overwritten
            rows.append({"user_id": k % 10, "event_id": k, "event_type": "view",
                         "value": float(version), "props": "{}",
                         "writetime": 100 + version})
    return pa.Table.from_pylist(rows, schema=gen.EVENTS_SCHEMA), [(7, 7)]


def _lww_view(rows: pa.Table) -> pd.DataFrame:
    df = rows.to_pandas().sort_values("writetime")
    return df.drop_duplicates(["user_id", "event_id"], keep="last").reset_index(drop=True)


def test_correct_view_passes_and_a_dropped_row_is_a_failure(tmp_path):
    rows, rules = _events()
    view = _lww_view(rows)
    con = checks.connect()
    assert checks.lww_problems(con, rows, view, 1000, rules) == []
    kept = view[view.user_id != 7].reset_index(drop=True)
    assert checks.lww_problems(con, rows, kept, 1000, rules, convicted_absent=True) == []

    corrupted = kept.drop(index=3).reset_index(drop=True)  # one row dropped
    problems = checks.lww_problems(con, rows, corrupted, 1000, rules, convicted_absent=True)
    assert problems == ["1 kept rows missing or stale"]

    # ... and the run reports it: one failed check in `failed`, not correct
    ctx = Ctx("retention_lsm", 0, 1.0, False, str(tmp_path))
    ctx.check("retention snapshot", problems)
    ctx.check("final view", [])
    assert (ctx.attempted, ctx.failed) == (2, 1)
    line = json.loads(result_line(ctx, {"setup_s": (1.0, "s")}))
    assert line["correct"] is False and line["failed"] == 1


def test_a_stale_version_and_a_dropped_oracle_row_are_failures():
    rows, rules = _events()
    view = _lww_view(rows)
    stale = view.copy()
    i = stale.index[stale.value > 0][0]
    stale.loc[i, "value"] = 0.0
    assert checks.lww_problems(checks.connect(), rows, stale, 1000, rules) != []
    assert checks.frame_problems(view.drop(index=0), view) == [
        f"rowcount {len(view) - 1} != {len(view)}"]


def test_admission_replay_drops_exact_and_near_recrawls():
    shards, _ = gen.crawl_shards(9, 3, 40, exact_share=0.3, near_share=0.3)
    docs = pa.Table.from_pylist(
        [{"doc_id": d["doc_id"], "text": d["text"], "shard": k}
         for k, s in enumerate(shards) for d in s])
    ids = checks.admission_replay(checks.connect(), docs)
    gated = [d for s in shards for d in s if len(d["text"].split()) >= 30]
    assert 0 < len(ids) < len(gated)


def test_components_by_union_find():
    pairs = pd.DataFrame({"id_a": [1, 2, 10], "id_b": [2, 3, 11]})
    good = pd.DataFrame({"id": [1, 2, 3, 10, 11], "comp": [1, 1, 1, 10, 10]})
    assert checks.components_problems(pairs, good) == []
    assert checks.components_problems(pairs, good.drop(index=4)) != []


# ---------------------------------------------------------------------------
# counts that must repeat exactly
# ---------------------------------------------------------------------------

# Counts that do not repeat exactly between two runs of one seed are listed
# here as varying: they are reported but back no claim.
# Shuffle bytes are compressed blocks whose size depends on row order within
# a partition; this one moved by 3 bytes between two runs of one seed.
VARYING: set[str] = {"operators.cluster.connected_components.shuffle_write_bytes"}


def _counts(workload: str, seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "0", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.strip().splitlines()[-1])["correct"]
    path = next(ln.split(": ", 1)[1] for ln in proc.stdout.splitlines() if ln.startswith("spans: "))
    per_op: dict[str, list] = defaultdict(list)
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            per_op[s["name"]].append({k: s.get(k) for k in (
                "jobs", "stages", "shuffle_write_bytes", "rows", "bytes", "bytes_rewritten")})
    os.remove(path)
    return per_op


@pytest.mark.parametrize("workload", ["retention_lsm", "crawl_drain", "corpus_batch"])
def test_counts_repeat(workload):
    """Two runs with one seed: identical jobs and stages per operation
    type, identical rows and bytes written."""
    a, b = _counts(workload, 21), _counts(workload, 21)
    assert sorted(a) == sorted(b)
    differ = {
        f"{op}.{field}"
        for op in a
        for field in ("jobs", "stages", "shuffle_write_bytes", "rows", "bytes", "bytes_rewritten")
        if [s[field] for s in a[op]] != [s[field] for s in b[op]]
    }
    assert differ <= VARYING, sorted(differ - VARYING)


def test_benchmark_json_matches_the_report():
    from perfbench.report import PER_LAYER
    from perfbench.run import GATED, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [m["name"] for m in b["end_to_end"]] == list(GATED)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
