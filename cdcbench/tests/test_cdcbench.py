"""The benchmark's own tests: generation is deterministic, the checks
catch a planted wrong row, the metric lists match BENCHMARK.json, a tiny
run of each workload prints every metric, and a failed catch-up still
prints a result.

    python3 -m pytest cdcbench/tests -q
"""

import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import run
from oracle import Oracle
from workloads import SNAPSHOT_LOADS, plan_for

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def _tree_bytes(d):
    out = {}
    for base, _dirs, files in os.walk(d):
        for f in files:
            p = os.path.join(base, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


@pytest.fixture(scope="module")
def tiny(tmp_path_factory):
    spec = plan_for("live_tail", 10, "tiny").spec
    d = str(tmp_path_factory.mktemp("gen") / "g")
    m = gen.generate(spec, 5, d)
    return d, m


def test_same_seed_same_bytes(tmp_path):
    spec = plan_for("live_tail", 10, "tiny").spec
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(spec, 7, a)
    gen.generate(spec, 7, b)
    gen.generate(spec, 8, c)
    assert _tree_bytes(a) == _tree_bytes(b)
    assert _tree_bytes(a) != _tree_bytes(c)


def test_inputs_have_the_promised_mix(tiny):
    d, m = tiny
    o = Oracle(d, [f["name"] for f in m["files"]])
    ops = dict(o.db.execute("select op, count(*) from ev group by op").fetchall())
    assert {"c", "u", "d"} <= set(ops)
    reinserts = o.db.execute("""
        select count(*) from ev a join ev b on a.url = b.url
        where a.op = 'd' and b.op = 'c'
          and (b.lsn > a.lsn or (b.lsn = a.lsn and b.seq > a.seq))""").fetchone()[0]
    assert reinserts > 0
    dups = o.db.execute("""select count(*) from (select lsn, seq from ev
                           group by lsn, seq having count(*) > 1)""").fetchone()[0]
    assert dups > 0
    txns = o.db.execute("""select count(*) from (select lsn from ev
                           group by lsn having count(distinct seq) > 1)""").fetchone()[0]
    assert txns > 0
    assert [d["action"] for f in m["files"] for d in f["ddl"]] == [
        "add_column", "widen_column", "rename_column"]
    # live_tail: every copy lands in the file of its original
    assert o.db.execute("""select count(*) from (select lsn, seq from ev
                           group by lsn, seq having count(distinct fidx) > 1)""").fetchone()[0] == 0
    o.close()


def test_backfill_inputs_redeliver_across_files_and_load_raw_snapshots(tmp_path):
    spec = plan_for("backfill", 10, "tiny").spec
    d = str(tmp_path / "g")
    m = gen.generate(spec, 5, d)
    o = Oracle(d, [f["name"] for f in m["files"]])
    later = o.db.execute("""select count(*) from (select lsn, seq from ev
                            group by lsn, seq having count(distinct fidx) > 1)""").fetchone()[0]
    assert later > 1                          # the fixed probe and seeded copies
    events, urls = o.db.execute("select count(*), count(distinct url) from ev").fetchone()
    assert events / urls > 3                  # several revisions per url
    snap = pq.read_table(f"{d}/snapshot.parquet")
    assert snap.column("text").null_count == snap.num_rows  # html is the only text
    assert set(snap.column("lang").to_pylist()) - set(gen.CANONICAL_CODES)  # raw tags
    o.close()


def _expected_state(o, upto):
    return o.db.execute(f"select url, text, lang from {o.state_sql(upto)}").arrow()


def test_planted_wrong_row_fails_the_check(tiny):
    d, m = tiny
    o = Oracle(d, [f["name"] for f in m["files"]])
    last = len(m["files"]) - 1
    good = _expected_state(o, last)
    assert good.num_rows > 0
    assert o.check_state(good, last) == []
    rows = good.to_pylist()
    rows[0] = dict(rows[0], text=rows[0]["text"] + "x")
    assert o.check_state(pa.Table.from_pylist(rows, schema=good.schema), last)
    assert o.check_state(good.slice(1), last)                       # a row missing
    assert o.check_state(pa.concat_tables([good, good.slice(0, 1)]), last)  # a row twice
    o.close()


def test_planted_wrong_change_fails_the_check(tiny):
    d, m = tiny
    o = Oracle(d, [f["name"] for f in m["files"]])
    k = next(k for k in range(len(m["files"]))
             if o.db.execute(f"select count(*) from {o._winners(k, k)} where op = 'd'").fetchone()[0])
    good = o.db.execute(f"""select url, lsn as _lsn, seq as _seq,
        case when op = 'd' then 'delete' else 'upsert' end as _change_type, text, lang
        from {o._winners(k, k)}""").arrow()
    assert o.check_changes(good, k, k) == []
    rows = good.to_pylist()
    i = next(j for j, r in enumerate(rows) if r["_change_type"] == "delete")
    rows[i] = dict(rows[i], _change_type="upsert")
    assert o.check_changes(pa.Table.from_pylist(rows, schema=good.schema), k, k)
    o.close()


def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == run.PER_LAYER
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOADS)


def _tiny_run(workload, code=None):
    args = ["--workload", workload, "--seed", "3", "--seconds", "10", "--trace", "0",
            "--scale", "tiny"]
    cmd = ([sys.executable, os.path.join(HERE, "run.py"), *args] if code is None else
           [sys.executable, "-c", code, *args])
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1]), p.stderr


@pytest.fixture(scope="module", params=run.WORKLOADS)
def tiny_run(request):
    return request.param, *_tiny_run(request.param)


def test_tiny_run_prints_every_metric(tiny_run):
    _w, res, err = tiny_run
    assert res["correct"] and res["attempted"] > 0, err[-3000:]
    assert [n for n, _u in run.END_TO_END] == list(res["metrics"])
    assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.xfail(strict=True, reason=(
    "engine faults the inputs expose on every seed: CDCPipeline.bootstrap skips the "
    "winner transforms (snapshot rows keep raw lang tags and no text), and a url "
    "re-delivered in a later epoch reads back twice from a mor table (backfill)"))
def test_tiny_run_passes_every_check(tiny_run):
    _w, res, err = tiny_run
    assert res["failed"] == 0, err[-3000:]


def test_failed_catch_up_still_prints_a_result():
    # the warm-up's catch-up runs; the measured one raises
    code = f"""
import sys
sys.path[:0] = [{HERE!r}, {ROOT!r}]
from database_delta_plugins_spark.streaming.pipeline import CDCPipeline
real, calls = CDCPipeline.run_to_completion, []
def failing(self, *a, **k):
    calls.append(1)
    if len(calls) > 1:
        raise RuntimeError("planted catch-up failure")
    return real(self, *a, **k)
CDCPipeline.run_to_completion = failing
import run
sys.exit(run.main(sys.argv[1:]))
"""
    res, err = _tiny_run("backfill", code)
    good, _ = _tiny_run("backfill")
    assert "planted catch-up failure" in err
    assert res["attempted"] == good["attempted"]
    assert res["failed"] == res["attempted"] - SNAPSHOT_LOADS   # all but the bootstraps


def test_refuses_to_run_without_the_program(tmp_path):
    (tmp_path / "cdcbench").mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (tmp_path / "cdcbench" / f).write_bytes(open(os.path.join(HERE, f), "rb").read())
    p = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "backfill", "--seed", "1",
         "--seconds", "10", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
