#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, one JSON result line.

    python3 perfbench/run.py --workload extract --seed 0 --seconds 20 --trace 0

Run from the root of a checkout. One client, closed loop on Spark
``local[nproc]``: the workload's job chain runs again as soon as the
previous run of it has finished, while the ``--seconds`` window is still
open (see ``measure``). Set-up (session start, input generation, set-up
writes, warm-up) happens before the timer.

``--trace 0`` prints the end-to-end metrics named in BENCHMARK.json:
median wall time of the chain, documents per second, set-up time, peak
RSS of the process tree and the bytes the sink wrote. ``--trace 1`` runs
the loop in a context with a Spark event log, alternating traced runs
(spans and job tags) with untraced ones, then the layer-isolating extras,
and prints the per-layer metrics (see perfbench/README.md).

Every iteration's product is checked; the final product is digested and
compared with the digest pinned in ``digests.json`` for pinned seeds, and
checked against the generator's invariants on every seed. The last line
of stdout is ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
SETUP_REPS = 3


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def measure(w, seconds: float, alternate: bool = False) -> tuple[dict, int, bool | None]:
    """Closed loop for ``seconds``: a run of the chain starts while the
    window is still open, so the last run may end after it and a chain
    that takes about half the window always runs at least twice.

    Returns the walls of the good iterations keyed by whether they were
    traced, the number of failed iterations, and whether the last
    iteration was traced (``None`` if it failed). With ``alternate``,
    iterations are untraced, traced, traced, untraced, ... (ABBA order,
    so the chain's own speed-up over the first runs does not favour one
    side), and the loop runs at least one of each."""
    walls: dict[bool, list[float]] = {True: [], False: []}
    failed, i, last = 0, 0, None
    deadline = time.monotonic() + seconds
    while True:
        traced = alternate and i % 4 in (1, 2)
        w.tr.enabled = traced
        w.tr.iteration = i
        t0 = time.monotonic()
        try:
            w.iterate()
            dt = time.monotonic() - t0
            w.tr.iteration = None
            w.quick_check()
            walls[traced].append(dt)
            last = traced
        except Exception:
            failed += 1
            last = None
            traceback.print_exc()
        w.tr.iteration = None
        i += 1
        if time.monotonic() >= deadline and (not alternate or i >= 2):
            w.tr.enabled = alternate
            return walls, failed, last


def final_check(w, pinned: dict) -> bool:
    """Digest and invariants of the last product; False when they fail."""
    try:
        digest, details = w.check()
    except Exception:
        traceback.print_exc()
        return False
    want = pinned.get(w.name, {}).get(str(w.seed))
    print(f"digest {w.name} seed={w.seed} {digest} {json.dumps(details, sort_keys=True)}")
    if want is not None and want != digest:
        _log(f"digest mismatch for pinned seed {w.seed}: want {want}")
        return False
    return True


def run(args, root: Path, work: Path, spec: dict) -> dict:
    import harness
    from harness import MB, RssSampler, Session, Tracer, median
    from workloads import WORKLOADS

    pinned = json.loads((HERE / "digests.json").read_text())
    cls = WORKLOADS[args.workload]
    n = harness.cores()
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    trace = bool(args.trace)
    attempted = failed = 0

    def loop(
        sess: Session, reps: int, alternate: bool, seconds: float = args.seconds,
        full_warm: bool = True,
    ):
        """Set up, measure and check one workload in ``sess``."""
        nonlocal attempted, failed
        w = cls(args.seed, sess, work, Tracer(sess.spark, run_id, alternate))
        builds = []
        for _ in range(reps):
            t0 = time.monotonic()
            w.build_inputs()
            builds.append(time.monotonic() - t0)
        t0 = time.monotonic()
        w.prepare(full_warm)
        prep_s = time.monotonic() - t0
        walls, bad, last = measure(w, seconds, alternate)
        # the last iteration wrote the product the full check reads
        if not final_check(w, pinned) and last is not None:
            bad += 1
            walls[last].pop()
        attempted += len(walls[True]) + len(walls[False]) + bad
        failed += bad
        _log(
            f"input builds {[round(x, 2) for x in builds]} s, prepare {prep_s:.2f} s, "
            f"walls {[round(x, 3) for x in walls[False]]} untraced, "
            f"{[round(x, 3) for x in walls[True]]} traced, {bad} failed"
        )
        return w, median(builds) + prep_s, walls

    t0 = time.monotonic()
    with RssSampler() as rss:
        sess = Session(work, n, event_log=work / "eventlog" if trace else None)
        session_s = time.monotonic() - t0
        w, setup_s, walls = loop(sess, 1 if trace else SETUP_REPS, trace)
    wall = median(walls[False])
    if not trace:
        sess.stop()
        metrics = {
            "wall_s": wall,
            "docs_per_s": w.n_docs() / wall if wall else 0.0,
            "setup_s": session_s + setup_s,
            "peak_rss_mb": rss.peak / MB,
            "output_mb": w.output_bytes() / MB,
        }
        return finish(spec["end_to_end"], metrics, attempted, failed)

    try:
        w.extras()
        w.facts.update(w.function_sample())
    except Exception:
        failed += 1
        traceback.print_exc()
    folded = harness.fold_event_log(sess.stop())
    layer = {m["name"]: 0.0 for m in spec["per_layer"]}
    layer.update({k: v for k, v in w.facts.items() if k.startswith("functions.")})
    layer.update(w.per_layer(folded))
    layer["trace.wall_s"] = median(walls[True])
    layer["trace.overhead_s"] = median(walls[True]) - wall
    if args.workload == "extract":
        # N→4N analog: one run of the same chain on local[1], after the
        # sample warm-up only (full passes there cost ~4x the wall each)
        one = Session(work, 1)
        _, _, walls1 = loop(one, 1, False, seconds=0, full_warm=False)
        one.stop()
        if walls1[False] and wall:
            layer["extract.scaling_eff_1to4"] = median(walls1[False]) / wall / n
    trace_dir = root / ".bench_work" / "traces"
    trace_dir.mkdir(parents=True, exist_ok=True)
    (trace_dir / f"{args.workload}-seed{args.seed}.json").write_text(
        json.dumps(
            {
                "run_id": run_id,
                "spans": w.tr.spans,
                "per_span": {str(k): v for k, v in folded.items()},
                "per_layer": layer,
            },
            indent=1,
        )
    )
    return finish(spec["per_layer"], layer, attempted, failed)


def finish(declared: list, values: dict, attempted: int, failed: int) -> dict:
    names = [m["name"] for m in declared]
    extra = set(values) - set(names)
    missing = set(names) - set(values)
    if extra or missing:
        raise RuntimeError(f"metrics not as declared: extra {extra}, missing {missing}")
    return {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared
        },
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    if not (root / "ocr_obsidian_spark" / "__init__.py").is_file():
        _log(f"no ocr_obsidian_spark package under {root}: run from a checkout root")
        return 2
    spec = json.loads((root / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        _log(f"unknown workload {args.workload!r}")
        return 2

    import harness

    work = harness.make_work(root, f"{args.workload}-{args.seed}")
    # keep every temporary file of the driver, the JVM and the workers
    # inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    sys.path[:0] = [str(root), str(HERE)]
    try:
        result = run(args, root, work, spec)
    finally:
        harness.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
