"""scripts/measure.py and the bench loop it shares with bench.py.

`summarize` must reproduce the verdicts recorded in the A/B artifacts
from their own `runs`; an A/B arm must time the engine of the checkout
it is pointed at; `bench.best_of` must report its per-query detail and
leave no ride-along cache behind.
"""

from __future__ import annotations

import importlib.util
import json
import os
import subprocess
import sys

import pytest

from .conftest import SF_SMALL

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = os.path.join(REPO, "scripts")
_spec = importlib.util.spec_from_file_location(
    "measure_under_test", os.path.join(SCRIPTS, "measure.py")
)
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)

# Head-vs-baseline artifacts written by the A/B runner `measure.py ab`
# replaces; their baseline arm was labelled "r11".
AB_ARTIFACTS = [
    "AB_GRAPH_r16",
    "AB_SIM_r16",
    "AB_LP_WEDGE_r16",
    "AB_LINKPRED_r15",
    "AB_SKETCH_BYPASS_r14",
    "AB_HOST_DRIFT_r14",
    "AB_HOST_DRIFT_EXT_r14",
]
# Verdicts edited by hand after a follow-up A/B (see its "adjudication").
HAND_EDITED_VERDICTS = {"AB_HOST_DRIFT_r14"}


@pytest.mark.parametrize("name", AB_ARTIFACTS)
def test_summarize_reproduces_recorded_ab_artifacts(name):
    with open(os.path.join(REPO, f"{name}.json")) as f:
        rec = json.load(f)
    runs = [
        dict(r, arm="base" if r["arm"] == "r11" else r["arm"])
        for r in rec["runs"]
    ]
    got = measure.summarize(runs)
    calib_ratio = rec["calib_ratio_head_over_r11"]
    assert got["calib_ratio_head_over_base"] == calib_ratio
    assert got["verdicts"].keys() == rec["verdicts"].keys()
    fields = [
        "head_min_s",
        "raw_ratio",
        "calib_norm_ratio",
        "fingerprints_equal_across_arms",
    ]
    if name not in HAND_EDITED_VERDICTS:
        fields.append("verdict")
    for slug, want in rec["verdicts"].items():
        v = got["verdicts"][slug]
        assert v["base_min_s"] == want["r11_min_s"], slug
        for field in fields:
            assert v[field] == want[field], (slug, field)


def test_arm_imports_engine_from_its_checkout(tmp_path):
    """Importing `bench` puts this checkout first on sys.path; the arm
    must still resolve `oarphpy_spark` from the checkout it was given,
    even when started from this checkout's root."""
    pkg = tmp_path / "oarphpy_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    code = (
        f"import sys; sys.path.insert(0, {SCRIPTS!r}); import measure; "
        f"measure._use_checkout({str(tmp_path)!r}); "
        "import oarphpy_spark; print(oarphpy_spark.__file__)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert out == str(pkg / "__init__.py")


def test_best_of_reports_detail_and_releases_caches(spark):
    import bench
    from pyspark import StorageLevel

    from oarphpy_spark import registry

    name = "q_dedup_ngram_jaccard"  # carries a `_oarphpy_persisted` cache
    query = registry.queries()[name]
    results = []

    def recorded(spark, sf_dir):
        results.append(query(spark, sf_dir))
        return results[-1]

    jsc = spark.sparkContext._jsc
    n_persistent = jsc.getPersistentRDDs().size()
    timings, detail = bench.best_of(
        spark, {name: recorded}, SF_SMALL, [name], reps=1, max_reps=2
    )
    d = detail[name]
    assert set(d) == {"n_reps", "spread", "warm_sec", "times"}
    assert 1 <= d["n_reps"] <= 2 and len(d["times"]) == d["n_reps"]
    assert timings[name] == min(d["times"]) and d["warm_sec"] > 0
    assert len(results) == 1 + d["n_reps"]  # warm pass + timed reps
    for df in results:
        assert df._oarphpy_persisted, "query no longer caches; pick another"
        for cached in df._oarphpy_persisted:
            assert cached.storageLevel == StorageLevel.NONE
    assert jsc.getPersistentRDDs().size() == n_persistent
