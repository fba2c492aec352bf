"""The benchmark's own tests: `python3 -m pytest perfbench/tests -q` from the
root of a checkout. The smoke runs use a 500-document corpus (the sf0.001
closed form: 454 pages, 2,479 triples) and a tenth of the padding."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import inputs  # noqa: E402
import kernel  # noqa: E402
import run  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SMALL = (
    "import sys; sys.path.insert(0, 'perfbench'); import run; "
    "run.N_DOCS = 500; run.QUERY_DOCS = run.QUERY_VECS = 200; run.KERNEL_SAMPLE = 100; "
    "run.WORKLOADS = {{k: run.Workload(w.padding // 10, w.why) for k, w in run.WORKLOADS.items()}}; "
    "run.main({argv!r})"
)
SF0001 = {"pages": 454, "triples": 2479}


def left_running() -> list[int]:
    """Processes still naming the benchmark's work directory (the JVM's
    `-Djava.io.tmpdir` does)."""
    work, pids = os.path.join(ROOT, ".perfbench_work").encode(), []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if work in f.read():
                    pids.append(int(pid))
        except OSError:
            continue
    return pids


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    argv = ["--workload", workload, "--seed", "3", "--seconds", "1", "--trace", str(trace)]
    # output goes to files, not pipes: a JVM left running would hold a pipe
    # open and make `run` wait for it
    with tempfile.TemporaryFile("w+") as out, tempfile.TemporaryFile("w+") as err:
        cmd = [sys.executable, "-c", SMALL.format(argv=argv)]
        code = subprocess.run(cmd, cwd=ROOT, stdout=out, stderr=err, timeout=600).returncode
        stray = left_running()
        out.seek(0)
        err.seek(0)
        stdout, stderr = out.read(), err.read()
    assert code == 0, stderr[-3000:]
    assert not stray, "the run left its JVM running"
    summary, result = (json.loads(line) for line in stdout.strip().splitlines()[-2:])
    assert result["correct"] and result["failed"] == 0, summary["errors"]
    return summary, result


def test_workloads_match_spec():
    assert {w["name"]: w["why"] for w in SPEC["workloads"]} == {k: w.why for k, w in run.WORKLOADS.items()}


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke(workload):
    summary, result = bench(workload, trace=0)
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert {k: summary[k] for k in SF0001} == SF0001 == summary["expected"]
    assert result["attempted"] >= 2


def test_traced_sparse():
    """Layer metrics exist with their units; the JVM prefilter keeps the
    padding out of Python; every Spark job of the traced build and sweep
    carries a span's job group."""
    summary, result = bench("kg_sparse", trace=1)
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {p["name"]: p["unit"] for p in SPEC["per_layer"]}
    assert m["convert.rows_to_python"] == SF0001["pages"]
    assert summary["build_jobs"] > 0 and summary["unattributed_jobs"] == {"cold_build": [], "build": [], "sweep": []}
    assert {s: m[f"core.status.{s}"] for s in kernel.STATUSES} == summary["kernel_sample"]["expected_status"]
    assert m["core.status.other"] == 0


def test_kernel_status_histogram_is_closed_form(tmp_path):
    docs = inputs.write_documents(str(tmp_path / "docs"), 500, seed=5)
    inputs.write_raw_files(docs, str(tmp_path / "raw"), seed=5, n_files=2)
    rows = kernel.sample(str(tmp_path / "raw"), seed=5, n=10**6)
    got = kernel.measure(rows, repeats=1)
    assert len(rows) == SF0001["pages"]
    assert {s: got[f"core.status.{s}"] for s in kernel.STATUSES} == {"ok": 445, "not_multipart": 4, "no_html_part": 5}
    assert kernel.expected_statuses(rows["doc_id"]) == {"ok": 445, "not_multipart": 4, "no_html_part": 5}


def test_inputs_are_seeded(tmp_path):
    import pyarrow.dataset as ds

    def stored(seed: int, tag: str):
        docs = inputs.write_documents(str(tmp_path / tag / "docs"), 200, seed)
        inputs.write_raw_files(docs, str(tmp_path / tag / "raw"), seed, n_files=3, padding=300)
        return ds.dataset(str(tmp_path / tag / "raw")).to_table().to_pydict()

    a, b, c = stored(1, "a"), stored(1, "b"), stored(2, "c")
    assert a == b
    assert a["doc_id"] != c["doc_id"] and sorted(a["doc_id"]) == sorted(c["doc_id"]) == list(range(500))
    pad = [i for i, d in enumerate(a["doc_id"]) if d >= 200]
    assert all(a["lang"][i] != "confluence" and a["path"][i].startswith("src/") for i in pad)
    assert sum(a["repo"][i] == "repo-hot" for i in pad) == sum(d % 5 < 3 for d in range(200, 500))
