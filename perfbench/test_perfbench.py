"""The benchmark's own cheap checks (no Spark session is started):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import observe  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _files(d):
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as f:
            out[name] = f.read()
    return out


def _generate(cls, root, seed, ops):
    wl = cls(str(root), seed, True)
    wl.gen_setup()
    for i in range(ops):
        wl.gen_op(i)
    return wl


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for cls in (workloads.DedupCorpus, workloads.IndexIngest):
        a = _generate(cls, tmp_path / f"{cls.name}_a", 7, 3)
        b = _generate(cls, tmp_path / f"{cls.name}_b", 7, 3)
        c = _generate(cls, tmp_path / f"{cls.name}_c", 8, 3)
        fa, fb, fc = _files(a.dir), _files(b.dir), _files(c.dir)
        assert fa == fb
        assert fa.keys() == fc.keys() and fa != fc


def test_dedup_planted_truth(tmp_path):
    wl = _generate(workloads.DedupCorpus, tmp_path, 3, 1)
    ids, texts, planted = wl.shards[0]
    oracle = workloads.Oracle(dict(zip(ids, texts)))
    assert len(ids) == wl.SHARD_DOCS == len(set(ids))
    assert len(planted) == round(wl.SHARD_DOCS * wl.DUP_FRAC)
    js = [oracle.jaccard(a, b)[0] for a, b in planted]
    above = sum(j >= workloads.THRESHOLD for j in js)
    # most copies are near-dups; a few mutate past the threshold, so the
    # recall denominator's filter is exercised
    assert 0.9 * len(js) <= above < len(js)
    lens = [len(t) for t in texts]
    assert abs(sum(lens) / len(lens) - workloads.DOC_CHARS) < 30
    # unrelated docs stay far below the threshold
    for a, b in zip(ids[:200], ids[200:400]):
        assert oracle.jaccard(a, b)[0] < 0.2


def test_index_planted_truth(tmp_path):
    wl = _generate(workloads.IndexIngest, tmp_path, 5, 3)
    deleted: set[int] = set()
    for i in range(3):
        ids, planted, deletes = wl.batches[i]
        kinds = {k for k, _, _ in planted}
        assert {"base", "added"} <= kinds or i == 0
        for kind, copy, target in planted:
            assert copy in ids and target not in ids
            if kind == "tomb":
                assert target in deleted
            else:
                assert target not in deleted
        assert len(deletes) == wl.DELETE_IDS
        assert not set(deletes) & {t for _, _, t in planted}
        deleted.update(deletes)
    assert "tomb" in {k for k, _, _ in wl.batches[1][1]}


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["paths"] == ["perfbench"]
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOAD_NAMES)
    assert list(run.WORKLOAD_NAMES) == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.PER_LAYER
    for traced, names in ((False, run.END_TO_END), (True, run.PER_LAYER)):
        result = {"correct": True, "attempted": 3, "failed": 0,
                  "metrics": {k: 1.5 for k in names},
                  "reported": {"failed_frac": 0.0}}
        buf = io.StringIO()
        with redirect_stdout(buf):
            run.emit(result, traced)
        last = json.loads(buf.getvalue().splitlines()[-1])
        assert set(last) == {"correct", "attempted", "failed", "metrics"}
        assert {k: v["unit"] for k, v in last["metrics"].items()} == names


def test_tail_keeps_samples_beyond_it():
    assert run.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    value, pct, beyond = run.tail([float(x) for x in range(8)])
    assert (value, pct, beyond) == (5.0, 75.0, 2)
    value, pct, beyond = run.tail([float(x) for x in range(100)])
    assert (value, beyond) == (89.0, 10) and pct == 90.0


def test_band_candidates_counts_distinct_pairs():
    rows = [(1, [5, 6]), (2, [5, 6]), (3, [7, 6]), (4, [8, 9])]
    # 1-2 share both bands (counted once); 1-3 and 2-3 share band 1
    assert observe.band_candidates(rows) == 3
    assert observe.cross_candidates([(10, [5, 0])], rows) == 2
