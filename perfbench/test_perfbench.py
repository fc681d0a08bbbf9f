"""The benchmark's own tests (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import datagen  # noqa: E402
import stats  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
with open(os.path.join(HERE, "predictions.json")) as _f:
    PRED = json.load(_f)


def test_metric_names_and_counts():
    e2e, layer = SPEC["end_to_end"], SPEC["per_layer"]
    assert 1 <= len(e2e) <= 16
    assert 1 <= len(layer) <= 128
    names = [m["name"] for m in e2e + layer]
    assert len(names) == len(set(names))
    for m in e2e + layer:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", m["name"])
        assert re.fullmatch(r"[A-Za-z0-9_/%.-]{1,16}", m["unit"])
        assert m["better"] in ("lower", "higher")
    for m in e2e:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25
    setup = next(m for m in e2e if m["name"] == "setup_s")
    assert setup == {"name": "setup_s", "unit": "s", "better": "lower", "bound": max(m["bound"] for m in e2e)}
    assert 2 <= len(SPEC["workloads"]) <= 8


def test_predictions_name_real_metrics_and_workloads():
    workloads = {w["name"] for w in SPEC["workloads"]}
    gated = {m["name"] for m in SPEC["end_to_end"]}
    layer = {m["name"] for m in SPEC["per_layer"]}
    for p in PRED["predictions"]:
        assert set(p["workloads"]) <= workloads and set(p["flat_on"]) <= workloads
        for g in (p["gated"] or "").split(","):
            g = g.split("(")[0].strip()
            assert not g or g in gated, g
        for name in re.split(r"[|,]\s*", p["layer"]):
            name = name.strip()
            if "<module>" in name or "." not in name:
                continue  # a family pattern or a suffix of the previous name
            assert name in layer, name
    # units and directions: gated metrics in BENCHMARK.json only, the
    # report-line metrics in predictions.json only
    assert not set(PRED["units"]) & gated
    units = {**PRED["units"], **{m["name"]: m for m in SPEC["end_to_end"]}}
    for spec in units.values():
        assert spec["better"] in ("lower", "higher")
    for name in ("recall_at_10", "queries_per_min", "ops_per_min"):
        assert units[name]["better"] == "higher"


@pytest.mark.parametrize(
    "n,pct,ok",
    [(100, 90, True), (99, 90, False), (200, 95, True), (199, 95, False), (1, 50, True), (0, 50, False)],
)
def test_tail_sample_rule(n, pct, ok):
    assert stats.tail_supported(n, pct) is ok
    r = stats.pct_report([float(i) for i in range(n)], pct)
    assert r["n"] == n and (r["value"] is not None) is ok


def test_tail_report_is_highest_supported_percentile():
    r = stats.tail_report([float(i) for i in range(40)])
    assert r["pct"] == 75.0 and stats.samples_beyond(40, r["pct"]) == stats.MIN_BEYOND
    assert stats.tail_report([1.0] * 20)["pct"] is None


def test_gated_percentiles_are_medians():
    """Gated metrics come from one run's samples, which cannot carry a
    tail percentile under the sample rule; only medians are gated."""
    for m in SPEC["end_to_end"] + SPEC["per_layer"]:
        for p in re.findall(r"_p(\d+)", m["name"]):
            assert int(p) <= 50, m["name"]


def test_percentile_matches_linear_interpolation():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 0) == 1.0 and stats.percentile(xs, 100) == 4.0


def _write(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def test_commit_mtime_lag_on_synthetic_checkpoint(tmp_path):
    ckpt = str(tmp_path / "ckpt")

    def entry(name, b):
        return json.dumps({"path": f"file:///land/{name}", "timestamp": 0, "batchId": b})

    _write(f"{ckpt}/sources/0/0", ["v1", entry("a.json", 0)])
    _write(f"{ckpt}/sources/0/1", ["v1", entry("b%20c.json", 1), entry("d.json", 1)])
    _write(f"{ckpt}/sources/0/2", ["v1", entry("e.json", 2)])
    _write(f"{ckpt}/sources/0/.1.crc", ["junk"])
    for b, t in ((0, 1000.0), (1, 1005.5)):
        _write(f"{ckpt}/commits/{b}", ["v1", "{}"])
        os.utime(f"{ckpt}/commits/{b}", (t, t))
    due = {"a.json": 999.0, "b c.json": 1002.0, "d.json": 1004.0, "e.json": 1006.0}
    lags = stats.file_lags(ckpt, due)
    # e.json's batch has no commit yet, so it has no lag
    assert lags == {"a.json": 1.0, "b c.json": 3.5, "d.json": 1.5}


def test_batch_of_file_reads_compacted_log(tmp_path):
    ckpt = str(tmp_path / "ckpt")
    rows = [json.dumps({"path": f"file:///l/f{i}.json", "timestamp": 0, "batchId": i}) for i in range(10)]
    _write(f"{ckpt}/sources/0/9.compact", ["v1"] + rows)
    assert stats.batch_of_file(ckpt) == {f"f{i}.json": i for i in range(10)}


def test_max_backlog():
    assert stats.max_backlog([]) == 0
    assert stats.max_backlog([(0, 2), (1, 3), (2.5, 4)]) == 2
    assert stats.max_backlog([(0, 1), (1, 2)]) == 1  # a commit at t frees before a landing at t


def test_datagen_is_seeded_and_typed():
    a, b = datagen.tables(7, 0.001), datagen.tables(7, 0.001)
    c = datagen.tables(8, 0.001)
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert str(a["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(a["embeddings"].schema.field("embedding").type) == "list<item: float>"
    assert a["documents"].num_rows == 500 and a["lineitem"].num_rows == 6000
    docs = a["documents"].to_pydict()
    assert all(n == len(t) for n, t in zip(docs["n_chars"], docs["text"]))
    assert any(t.endswith(" dup") for t in docs["text"])


def _ndjson(path, rows):
    with open(path, "w") as f:
        for doc_id, text in rows:
            row = {"doc_id": doc_id, "text": text, "lang": "es", "source": "s", "n_chars": len(text)}
            f.write(json.dumps(row) + "\n")


def test_ingest_oracle_dedups_within_a_batch_only(tmp_path):
    """A text repeated across two files is dropped once when both files
    land in one micro-batch, and kept twice when they land in two."""
    a, b = str(tmp_path / "a.json"), str(tmp_path / "b.json")
    _ndjson(a, [(1, "hola mundo grande"), (2, "gato negro")])
    _ndjson(b, [(3, "hola mundo grande"), (4, "perro azul")])
    one = workloads.ingest_oracle_rows({0: [a, b]})
    two = workloads.ingest_oracle_rows({0: [a], 1: [b]})
    assert [r[0] for r in one] == [1, 2, 4]
    assert [r[0] for r in two] == [1, 2, 3, 4]
