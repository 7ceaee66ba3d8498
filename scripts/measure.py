#!/usr/bin/env python
"""One measurement harness on bench.py's loop: `bench.bench_session`
(session config), `bench.best_of` (warm pass + best-of reps) and
`bench._cpu_calibration` (host yardstick).

  slugs q_a,q_b [--reps 2] [--max-reps 4]
      time slugs as bench.py does; prints one JSON line
  ab --base REV [--head REV] --slugs q_a,q_b [--rounds 3] [--reps 3]
     [--out FILE]
      interleaved fresh-process A/B of two commits (head: this checkout
      unless given); --out writes the artifact, its file name the event
  plans <round> <tag> [slug ...]
      write the bench queries' formatted plans to
      plans/<round>/<slug>_<tag>.txt

Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import hashlib
import importlib
import io
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PROTOCOL = (
    "interleaved fresh-process arms head/base/head/base/...; bench session "
    "and warm+rep semantics per arm (fixed reps); per-slug min across arm "
    "runs; per-process cpu_calib_sec (min across runs per arm) normalizes "
    "residual drift"
)


def _optional(module: str, name: str):
    """``module.name`` from the checkout on sys.path, or None where that
    checkout predates it (8ef6de6 has no shared-relation releases)."""
    try:
        return getattr(importlib.import_module(module), name, None)
    except ImportError:
        return None


def _release_shared(spark) -> None:
    """Drop the graph and dedup-LSH families' session-shared checkpoints,
    so the next slug's warm pass rebuilds them instead of the first
    family member in a slug list absorbing the build."""
    for module, name in (
        ("oarphpy_spark.queries.graph_queries", "release_shared_edges"),
        ("oarphpy_spark.queries.llm_queries", "release_shared_buckets"),
    ):
        release = _optional(module, name)
        if release is not None:
            release(spark)


def slugs(args) -> None:
    import bench
    from oarphpy_spark import registry

    sf_dir, cpus = bench._sf_dir_cpus()
    spark = bench.bench_session(sf_dir, cpus).getOrCreate()
    qs = registry.queries()
    # bench.py's shared-edge prewarm: every graph slug's wall is
    # shared-cache-warm regardless of its place in the list.
    from oarphpy_spark.queries.graph_queries import _shared_edges

    t0 = time.perf_counter()
    _shared_edges(spark, sf_dir).write.mode("overwrite").format("noop").save()
    prewarm = round(time.perf_counter() - t0, 4)
    timings, detail = bench.best_of(
        spark, qs, sf_dir, args.slugs.split(","), args.reps, args.max_reps
    )
    _release_shared(spark)
    print(json.dumps({
        "slugs": timings, "detail": detail,
        "shared_edge_prewarm_sec": prewarm,
        "cpu_calib_sec": bench._cpu_calibration(),
        "sf_dir": sf_dir, "cpus": cpus,
    }))
    spark.stop()


def _use_checkout(repo: str) -> None:
    """Make ``repo``'s engine the one ``import oarphpy_spark`` finds.
    Importing ``bench`` puts this checkout at sys.path[0], so it must
    come first: inserting ``repo`` before it would silently time this
    checkout's engine in both arms."""
    import bench  # noqa: F401 — must precede the insert below

    sys.path.insert(0, os.path.abspath(repo))


def arm(args) -> None:
    """One A/B arm: the slugs from ``--repo``'s engine, timed by this
    checkout's bench loop; prints one ``ABARM`` JSON line with per-slug
    rep times, output fingerprints and ``cpu_calib_sec``."""
    _use_checkout(args.repo)
    import bench
    from oarphpy_spark import registry
    from oarphpy_spark.llm.dedup import release_cached

    sf_dir, cpus = bench._sf_dir_cpus()
    spark = bench.bench_session(sf_dir, cpus).getOrCreate()
    qs = registry.queries()
    calib_before = bench._cpu_calibration()
    out: dict = {"repo": args.repo, "slugs": {}, "fps": {}}
    for name in args.slugs.split(","):
        _, detail = bench.best_of(
            spark, qs, sf_dir, [name], args.reps, args.reps
        )
        out["slugs"][name] = detail[name]["times"]
        df = qs[name](spark, sf_dir)
        rows = sorted(tuple(str(v) for v in r) for r in df.collect())
        out["fps"][name] = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
        release_cached(df)
        _release_shared(spark)
    out["cpu_calib_sec"] = min(calib_before, bench._cpu_calibration())
    print("ABARM " + json.dumps(out))


def _arm_run(repo: str, slug_list: str, reps: int) -> dict:
    # cwd=repo: Spark's Python workers import the engine from their
    # working directory, which they inherit from the arm process.
    p = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "arm", "--repo", repo,
         "--slugs", slug_list, "--reps", str(reps)],
        cwd=repo, capture_output=True, text=True, timeout=3600,
    )
    for ln in p.stdout.splitlines():
        if ln.startswith("ABARM "):
            return json.loads(ln[len("ABARM "):])
    raise RuntimeError(
        f"arm {repo} failed rc={p.returncode}\n{p.stdout[-2000:]}\n"
        f"{p.stderr[-2000:]}"
    )


def summarize(runs: list[dict]) -> dict:
    """The A/B verdict from the arms' ``runs``: per arm, each slug's min
    over every rep of every run, and the min calibration; the ratio is
    head/base, normalized by the calibration ratio."""
    names = list(runs[0]["slugs"])
    best: dict[str, dict[str, float]] = {"head": {}, "base": {}}
    calib: dict[str, float] = {}
    for label in best:
        sel = [r for r in runs if r["arm"] == label]
        calib[label] = min(r["cpu_calib_sec"] for r in sel)
        for s in names:
            best[label][s] = min(min(r["slugs"][s]) for r in sel)
    calib_ratio = calib["head"] / calib["base"] if calib["base"] else 1.0
    verdicts = {}
    for s in names:
        raw = best["head"][s] / best["base"][s]
        # Arms are interleaved minutes apart, so calib_ratio ~ 1; it is
        # applied anyway so residual drift inside the session window
        # cannot masquerade as a code delta.
        norm = raw / calib_ratio if calib_ratio else raw
        verdicts[s] = {
            "head_min_s": best["head"][s],
            "base_min_s": best["base"][s],
            "raw_ratio": round(raw, 3),
            "calib_norm_ratio": round(norm, 3),
            "fingerprints_equal_across_arms": (
                len({r["fps"][s] for r in runs}) == 1
            ),
            "verdict": "ok" if norm <= 1.10 else "regressed",
        }
    return {
        "cpu_calib_sec": calib,
        "calib_ratio_head_over_base": round(calib_ratio, 4),
        "verdicts": verdicts,
    }


def _git(*argv: str) -> str:
    return subprocess.run(
        ["git", *argv], cwd=REPO, check=True, capture_output=True, text=True
    ).stdout.strip()


def ab(args) -> None:
    revs = {"head": args.head, "base": args.base}
    commits = {k: _git("rev-parse", "--short", r or "HEAD")
               for k, r in revs.items()}
    tmp = tempfile.mkdtemp(prefix="measure_ab_")
    # An omitted --head is this checkout, uncommitted edits included.
    checkouts = {k: os.path.join(tmp, k) if r else REPO
                 for k, r in revs.items()}
    runs: list[dict] = []
    try:
        for k, r in revs.items():
            if r:
                _git("worktree", "add", "--detach", checkouts[k], r)
        for rnd in range(args.rounds):
            for label in ("head", "base"):
                rec = _arm_run(checkouts[label], args.slugs, args.reps)
                rec["arm"], rec["round"] = label, rnd
                runs.append(rec)
                mins = " ".join(
                    f"{s}={min(t):.2f}" for s, t in rec["slugs"].items()
                )
                print(f"round {rnd} {label}: calib={rec['cpu_calib_sec']} "
                      f"{mins}", file=sys.stderr)
    finally:
        for k, r in revs.items():
            if r:
                subprocess.run(
                    ["git", "worktree", "remove", "--force", checkouts[k]],
                    cwd=REPO, capture_output=True,
                )
        shutil.rmtree(tmp, ignore_errors=True)
        _git("worktree", "prune")
    summary = summarize(runs)
    if args.out:
        artifact = {
            "event": os.path.splitext(os.path.basename(args.out))[0].lower(),
            "ts": time.time(),
            "protocol": PROTOCOL,
            "base_commit": commits["base"],
            "head_commit": commits["head"],
            "baseline_checkout": checkouts["base"],
            **summary,
            "runs": runs,
        }
        with open(args.out, "w") as f:
            json.dump(artifact, f, indent=1)
    print(json.dumps(summary))


def plans(args) -> None:
    import bench
    from oarphpy_spark import registry
    from oarphpy_spark.queries import graph_queries as gq

    sf_dir, cpus = bench._sf_dir_cpus()
    out_dir = os.path.join(REPO, "plans", args.round)
    os.makedirs(out_dir, exist_ok=True)
    spark = bench.bench_session(sf_dir, cpus).getOrCreate()
    qs = registry.queries()
    # Wrappers that eagerly localCheckpoint are dumped from their plan
    # builders, so the file shows the computation, not a LogicalRDD scan.
    special = {
        "q_link_prediction": lambda spark, sf_dir: (
            gq._link_prediction_exact_plan(spark, sf_dir, gq._LP_DEGREE_CAP)
        ),
        "q_link_prediction_sketch": gq._link_prediction_sketch_plan,
    }
    names = [n for n in bench.HEADLINE + bench.EXTRAS if n in qs]
    if args.slug:
        names = [n for n in names if n in args.slug]
    for name in names:
        caches = []
        try:
            if name in special:
                df, caches = special[name](spark, sf_dir)
            else:
                df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{args.tag}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {path}")
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: {ex}")
        finally:
            for c in caches:
                try:
                    c.unpersist()
                except Exception:  # noqa: BLE001
                    pass
    _release_shared(spark)


def main() -> None:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter
    )
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("slugs")
    p.add_argument("slugs", help="comma-separated registry slugs")
    p.add_argument("--reps", type=int, default=2)
    p.add_argument("--max-reps", type=int, default=4)
    p.set_defaults(fn=slugs)
    p = sub.add_parser("ab")
    p.add_argument("--base", required=True)
    p.add_argument("--head")
    p.add_argument("--slugs", required=True)
    p.add_argument("--rounds", type=int, default=3)
    p.add_argument("--reps", type=int, default=3)
    p.add_argument("--out")
    p.set_defaults(fn=ab)
    p = sub.add_parser("arm", help="one A/B arm; `ab` runs it")
    p.add_argument("--repo", required=True)
    p.add_argument("--slugs", required=True)
    p.add_argument("--reps", type=int, required=True)
    p.set_defaults(fn=arm)
    p = sub.add_parser("plans")
    p.add_argument("round")
    p.add_argument("tag")
    p.add_argument("slug", nargs="*")
    p.set_defaults(fn=plans)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
