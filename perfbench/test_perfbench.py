"""The benchmark's own tests.

    python -m pytest perfbench -q

The smoke tests start one Spark session per workload at ``--tiny``
size, about half a minute each on 4 cores.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import corpus, probes, run

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _tree(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            path = os.path.join(dirpath, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def _triples(root: str) -> dict[str, int]:
    """Non-comment lines per dataset, ``en_uris`` files folded into
    their dataset as ingest does."""
    counts: dict[str, int] = {}
    for rel, data in _tree(root).items():
        lang, name = rel.split(os.sep)[:2]
        dataset = name[: -len(f"_{lang}.ttl")].replace("_en_uris", "")
        lines = [line for line in data.decode().splitlines() if not line.startswith("#")]
        counts[dataset] = counts.get(dataset, 0) + len(lines)
    return counts


def test_same_seed_same_corpus_other_seed_other_corpus_same_counts(tmp_path):
    a = corpus.generate(str(tmp_path / "a"), 200, seed=7)
    b = corpus.generate(str(tmp_path / "b"), 200, seed=7)
    c = corpus.generate(str(tmp_path / "c"), 200, seed=8)
    assert a == b == c == corpus.expected_counts(200)
    assert _tree(str(tmp_path / "a")) == _tree(str(tmp_path / "b"))
    assert _tree(str(tmp_path / "a")) != _tree(str(tmp_path / "c"))
    assert _triples(str(tmp_path / "a")) == _triples(str(tmp_path / "c")) == a


def test_corpus_shape(tmp_path):
    corpus.generate(str(tmp_path), 2000, seed=1)
    lines = _tree(str(tmp_path))
    infobox = [
        line.split(" ", 2)
        for rel, data in lines.items()
        if "infobox_properties_de" in rel
        for line in data.decode().splitlines()
        if not line.startswith("#")
    ]
    preds = {p for _, p, _ in infobox}
    assert len(preds) > 100  # --top-k 100 must drop a tail
    datatypes = {}
    for _, p, o in infobox:
        datatypes.setdefault(p, set()).add(o.rsplit("^^", 1)[-1] if "^^" in o else "")
    assert any(len(t) > 1 for t in datatypes.values())  # conflicting datatypes
    assert any("en_uris" in rel for rel in lines)
    sizes = corpus.lang_sizes(2000)
    assert sizes["en"] > sizes["de"] > sizes["vi"]


def test_parse_duration():
    assert probes.parse_duration_s("1.5 s") == 1.5
    assert probes.parse_duration_s("total (min, med, max (stageId: taskId))\n250 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == 0.25
    assert probes.parse_duration_s("1,200 ms") == 1.2
    assert probes.parse_duration_s("2.0 m") == 120.0


def test_end_to_end_summarises_each_key_before_combining():
    meter = run.Meter(store=None)
    meter.section_cpu_s = [3.0, 5.0, 4.0]
    meter.shuffle_bytes, meter.peak_rss_mb = 60, 100.0
    ops = [run.Op(k, t, 1, True) for k, ts in {"a": (1.0, 1.2, 9.0), "b": (3.0, 3.0, 3.4)}.items() for t in ts]
    m = run.end_to_end(ops, meter, setup_s=2.0, out_bytes=7.0)
    assert m["items_per_s"] == 2 / (1.2 + 3.0)  # a's 9 s outlier moves a median, not the rate
    assert m["cpu_us_per_item"] == 4.0 / 2 * 1e6
    assert m["shuffle_bytes_per_item"] == 10
    assert m["latency_p50_s"] == run.quantile([1.2, 3.0], 0.5)
    assert m["latency_p90_s"] == run.quantile([1.2, 3.0], 0.9)


def test_benchmark_json_matches_the_command():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def _run(workload: str, trace: int) -> tuple[str, dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return "\n".join(lines[:-1]), json.loads(lines[-1])


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_run_prints_every_metric_and_no_errors(workload):
    text, result = _run(workload, 0)
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.END_TO_END
    for name, unit in run.END_TO_END.items():
        assert any(line.split()[1:2] == [name] and line.endswith(f" {unit}") for line in text.splitlines())
    error_rate = next(line for line in text.splitlines() if line.split()[1:2] == ["error_rate"])
    assert float(error_rate.split()[2]) == 0.0


def test_traced_run_reports_every_layer_metric():
    _, result = _run("registry", 1)
    assert result["correct"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.PER_LAYER
    m = result["metrics"]
    assert m["session.wall_s"]["value"] > 0
    assert m["operators.dedup.jobs_per_item"]["value"] >= 1
    assert m["functions.rdf.busy_s"]["value"] > 0
