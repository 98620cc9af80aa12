"""Self-tests of the benchmark itself; no Spark session is started.

    python3 perfbench/selftest.py

* the same seed generates byte-identical inputs, and another seed does not;
* the DuckDB oracle agrees with the generator's own branch mix;
* a deliberately perturbed output fails each workload's check, and the
  pipeline oracle's own output passes it;
* the layer row counts a traced iteration must observe follow the
  generator's mix, and a perturbed count fails the check;
* the metric names and units the benchmark emits match ``BENCHMARK.json``.

Exits 0 when every test passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import metrics as M  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import workloads as W  # noqa: E402

SHARES = 2_000
DOCUMENTS = 100


def test_same_seed_same_inputs(tmp):
    a, b, c = (os.path.join(tmp, x) for x in "abc")
    ta = gen.generate(a, 7, SHARES, DOCUMENTS)
    tb = gen.generate(b, 7, SHARES, DOCUMENTS)
    gen.generate(c, 8, SHARES, DOCUMENTS)
    assert gen.digest(a) == gen.digest(b), "same seed, different inputs"
    assert ta.mix == tb.mix and ta.after == tb.after, "same seed, different truth"
    assert gen.digest(a) != gen.digest(c), "different seeds, same inputs"


def test_oracle_matches_generator(tmp):
    wl = W.Migrate(SHARES)
    truth = wl.generate(tmp, 3)
    expected = wl.expect(tmp, truth)  # raises CheckFailed on disagreement
    assert sum(expected["audit"].values()) > 0
    truth.mix["default"] += 1
    _fails(lambda: W._check_truth(expected, truth.mix))


def test_perturbed_migration_output_fails(tmp):
    wl = W.Migrate(SHARES)
    in_dir = os.path.join(tmp, "in")
    truth = wl.generate(in_dir, 5)
    expected = wl.expect(in_dir, truth)
    wl.prepare(None, in_dir, tmp, truth, expected)
    out = os.path.join(tmp, "out")
    audit = [d for d, n in expected["audit"].items() for _ in range(n)]
    audit[0] = "NOT_UNDER_HOME" if audit[0] != "NOT_UNDER_HOME" else "DEFAULT"
    os.makedirs(os.path.join(out, "audit"))
    pq.write_table(pa.table({"decision": audit}), os.path.join(out, "audit", "p.parquet"))
    _fails(lambda: wl.check({"out": out}))


def test_perturbed_counts_fail(tmp):
    wl = W.Migrate(SHARES)
    truth = wl.generate(tmp, 5)
    counts = W.expected_counts(truth)
    m = truth.mix
    assert counts["functions.kv.rows_parsed"] + counts["functions.kv.rows_unparsed"] \
        == truth.n_replies
    assert sum(v for k, v in counts.items() if k.startswith("operators.router.rows.")) \
        == sum(m[b] for b in gen.BRANCHES)
    wl.prepare(None, tmp, tmp, truth, {"audit": {}, "dead": {}})
    bad = {**counts, "operators.router.rows.DEFAULT": counts["operators.router.rows.DEFAULT"] + 1}
    _fails(lambda: wl.check({"counts": bad}))


def test_perturbed_manifest_fails(tmp):
    wl = W.Pretrain(DOCUMENTS)
    truth = wl.generate(tmp, 5)
    expected = wl.expect(tmp, truth)
    assert expected, "the pipeline oracle kept no documents"
    wl.prepare(None, tmp, tmp, truth, expected)
    wl.check({"rows": list(expected), "survivors": tmp})
    bad = [list(r) for r in expected]
    bad[0][2] += 1  # one more token in shard 0
    _fails(lambda: wl.check({"rows": [tuple(r) for r in bad], "survivors": tmp}))


def test_metric_names_match_benchmark_json(_tmp):
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    assert sorted((m["name"], m["unit"]) for m in bench["end_to_end"]) == sorted(M.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [
        (n, u, "higher" if n in M.HIGHER else "lower") for n, u in M.per_layer_names()
    ]
    assert [w["name"] for w in bench["workloads"]] == list(W.WORKLOADS)
    assert all(len(m["name"]) <= 64 for m in bench["end_to_end"] + bench["per_layer"])
    samples = [{"cpu_s": 2.0, "bytes_per_row": 10.0}, {"cpu_s": 3.0, "bytes_per_row": 12.0}]
    emitted = M.end_to_end(samples, setup_s=1.0, cold_cpu_s=4.0, rss_mb=100.0)
    assert sorted((k, v["unit"]) for k, v in emitted.items()) == sorted(M.END_TO_END)
    assert all(v["value"] > 0 for v in emitted.values())


def _fails(fn) -> None:
    try:
        fn()
    except W.CheckFailed:
        return
    raise AssertionError("a perturbed output passed the check")


def main() -> int:
    tests = [(k, v) for k, v in globals().items() if k.startswith("test_")]
    failed = 0
    for name, fn in tests:
        os.makedirs(WORK, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix="selftest-", dir=WORK)
        try:
            fn(tmp)
            print(f"ok   {name}")
        except Exception:  # noqa: BLE001 - report every failing test
            failed += 1
            print(f"FAIL {name}")
            traceback.print_exc()
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(tests) - failed} passed, {failed} failed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
