#!/usr/bin/env python3
"""Seeded serving benchmark for the engine's public API.

    python3 perfbench/run.py --workload serve_local --seed 1 --seconds 5 --trace 0

One process, one closed-loop client, Spark ``local[4]``. The run starts
a session and builds its own index from the library's deterministic
corpus (``setup_s``), draws a request pool from the index's term
dictionary with the seed, warms every request up and computes its answer
with the other engine once, then replays the pool in whole passes for
``--seconds`` and checks every timed answer against that reference.
``--trace 1`` alternates untraced and traced passes and reports
per-layer numbers instead of the end-to-end ones. The last line of
stdout is the JSON result; see README.md for every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_TURNS = 10_000
TURNS_PER_CONV = 20
SEG_SIZE = 5_000  # 2 segments
CORES = 4
CHECK_THREADS = 4
TIER_ENV = "SOLRPLUGINS_LOCAL_TIER_MAX_BYTES"  # the engine's local-tier budget
# every timed run makes at least this many whole passes over the pool;
# the tail percentile is chosen from the sample count this guarantees,
# so it is the same percentile on every run of a workload
MIN_PASSES = {"serve_local": 4, "serve_spark": 2}

END_TO_END = {
    "setup_s": "s",
    "req_p50_ms": "ms",
    "req_tail_ms": "ms",
    "req_per_s": "1/s",
    "peak_rss_mb": "MB",
    "index_bytes_per_turn": "B",
}


def _parse(argv):
    from reqgen import WORKLOAD_KINDS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _configure_env(workload: str, work: str) -> None:
    """Deployment settings, fixed before the engine is imported."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # spark-submit's launcher JVM would otherwise write perf data to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    # serve_spark stands in for an index past the driver budget
    if workload == "serve_spark":
        os.environ[TIER_ENV] = "0"
    else:
        os.environ.pop(TIER_ENV, None)


def _session(work: str):
    from solrplugins_spark.session import get_spark

    return get_spark(
        "perfbench", cores=CORES, shuffle_partitions=CORES,
        extra_conf={
            # serving-style session, as bench.py's query phase
            "spark.sql.adaptive.enabled": "false",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.codegen.cache.maxEntries": "10000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-XX:+UseParallelGC -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
            ),
        },
    )


def _build(spark, work: str):
    """corpus -> flat index -> the corpus committed as generation 0 of a
    streamed packed store; returns the frames, the served generation,
    the store path and phase timings.

    The commit tokenizes with the same plan as ``build_index``, so it
    reads the flat index's cached postings; it then unpersists its own
    copy, and Spark's cache drops every frame with that plan, the flat
    postings too. They are cached again for the flat requests."""
    from pyspark.sql import functions as F
    from solrplugins_spark.corpus import transcripts
    from solrplugins_spark.index.builder import build_index
    from solrplugins_spark.streaming.incremental import packed_generations, process_generation

    store = os.path.join(work, "store")
    t0 = time.perf_counter()
    # the corpus' row number, which is the order mint_doc_ids would give
    # (conv_id is "conv" + the zero-padded conversation number), without
    # its range-partitioning jobs
    turns = transcripts(spark, N_TURNS, TURNS_PER_CONV, partitions=CORES)
    conv = F.substring("conv_id", 5, 8).cast("long")
    docs = turns.withColumn("doc_id", conv * TURNS_PER_CONV + F.col("turn_idx")).persist()
    docs.count()
    t1 = time.perf_counter()
    idx = build_index(docs, positions=True).persist()
    idx.postings.count()
    idx.terms.count()
    idx.doclen.count()
    t2 = time.perf_counter()
    process_generation(
        docs, 0, store, positions=True, pack=True, seg_size=SEG_SIZE, seg_groups=1,
        string_cols=["role"], store_cols=["text"], value_cols=["turn_idx"],
        key_cols=("conv_id", "turn_idx"),
    )
    (seg,) = packed_generations(store)
    t3 = time.perf_counter()
    idx.postings.persist().count()
    t4 = time.perf_counter()
    return docs, idx, seg, store, {
        "corpus": t1 - t0, "index": t2 - t1, "commit": t3 - t2, "recache": t4 - t3,
    }


def _job_counts(sc, groups, detail: bool) -> dict:
    """group -> (jobs, stages, tasks), read from the status tracker once
    the listener bus has drained."""
    try:
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    except Exception:  # noqa: BLE001 - private API; fall back to a pause
        time.sleep(1.0)
    st = sc.statusTracker()
    out = {}
    for g in groups:
        jobs = st.getJobIdsForGroup(g)
        stages = tasks = 0
        if detail:
            for j in jobs:
                info = st.getJobInfo(j)
                for s in info.stageIds if info else ():
                    sinfo = st.getStageInfo(s)
                    stages += 1
                    tasks += sinfo.numTasks if sinfo else 0
        out[g] = (len(jobs), stages, tasks)
    return out


def _descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from the parent ids in /proc."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        up = todo.pop()
        kids = [c for c, pp in parent.items() if pp == up]
        out += kids
        todo += kids
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _wait_gone(pids: list[int], seconds: float) -> None:
    deadline = time.monotonic() + seconds
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM and the JVM's Python daemon and
    workers to end; whatever is still running after a minute is killed."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    _wait_gone(below, 60)
    for p in below:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    _wait_gone(below, 10)


def _references(pool, ctx, sc) -> dict:
    """Untimed warm-up and references, four calls at a time: every
    request is called once (rows discarded), and the other engine's answer
    to it is computed. Returns request id -> (sections checked, rows), or
    the traceback where the reference raised."""
    import kinds

    def warm(req):
        sc.setJobGroup(f"warm-{req['id']}", req["kind"])
        try:
            for f in kinds.call(req, ctx):
                f.collect()
        except Exception:  # noqa: BLE001 - the timed call reports it
            pass
        finally:
            kinds.reset(req, ctx)

    def reference(req):
        sc.setJobGroup(f"ref-{req['id']}", "reference")
        try:
            frames, n = kinds.reference(req, ctx)
            return n, [f.collect() for f in frames]
        except Exception:  # noqa: BLE001 - reported as a wrong answer
            return 0, "reference raised:\n" + traceback.format_exc()

    with ThreadPoolExecutor(max_workers=CHECK_THREADS) as ex:
        warmed = [ex.submit(warm, req) for req in pool]
        refs = {req["id"]: ex.submit(reference, req) for req in pool}
        for f in warmed:
            f.result()
        return {i: f.result() for i, f in refs.items()}


def _check(samples, refs, notes: list[str]) -> int:
    """Compares every timed request's rows with its reference; returns how
    many were wrong. Each distinct mismatch is reported once."""
    import kinds

    wrong = 0
    seen = set()
    for s in samples:
        if not s["ok"]:
            continue
        n, theirs = refs[s["id"]]
        msg = theirs if isinstance(theirs, str) else kinds.mismatch(s["kind"], s["rows"][:n], theirs)
        if msg:
            wrong += 1
            if s["id"] not in seen:
                seen.add(s["id"])
                notes.append(f"WRONG {s['kind']} {json.dumps(s['args'])}: {msg}")
    return wrong


def _timed_loop(args, pool, ctx, sc, spark, tracer, notes: list[str]):
    """Whole passes over the pool, in a seeded order per pass, until
    ``--seconds`` and the minimum passes are done; a traced run traces
    every second pass. Returns (samples, wall seconds of untraced
    passes without the untimed resets, passes)."""
    import kinds

    min_passes = MIN_PASSES[args.workload] * (2 if tracer else 1)
    samples = []
    untraced_wall = 0.0
    t_start = time.perf_counter()
    p = 0
    while True:
        order = list(pool)
        random.Random(f"{args.seed}:{p}").shuffle(order)
        traced = tracer is not None and p % 2 == 1
        if traced:
            tracer.install(spark)
        t_pass = time.perf_counter()
        resets = 0.0
        for req in order:
            n = len(samples)
            g = f"req-{n}"
            sc.setJobGroup(g, req["kind"])
            ok = True
            if traced:
                tracer.request = n
                span = tracer.begin("edge.call")
            rows = None
            t0 = t1 = time.perf_counter()
            try:
                frames = kinds.call(req, ctx)
                t1 = time.perf_counter()
                if traced:
                    tracer.end(span)
                    span = tracer.begin("edge.collect")
                rows = [f.collect() for f in frames]
            except Exception:  # noqa: BLE001 - a failing request is a result
                ok = False
                notes.append(f"FAILED {req['kind']}: {traceback.format_exc()}")
            t2 = time.perf_counter()
            if traced:
                tracer.end(span)
                tracer.request = None
            kinds.reset(req, ctx)
            resets += time.perf_counter() - t2
            samples.append({
                "id": req["id"], "kind": req["kind"], "args": req["args"], "group": g,
                "pass": p, "traced": traced, "ok": ok, "rows": rows,
                "call": t1 - t0, "collect": t2 - t1,
            })
        if traced:
            tracer.uninstall()
        else:
            untraced_wall += time.perf_counter() - t_pass - resets
        p += 1
        if time.perf_counter() - t_start >= args.seconds and p >= min_passes:
            return samples, untraced_wall, p


def _tier_guard(workload: str, kind_jobs) -> list[str]:
    """Violations of the tier each workload must run on, by kind."""
    import reqgen

    out = set()
    for kind, jobs in kind_jobs:
        if kind not in reqgen.PACKED_KINDS:
            continue
        if workload == "serve_local" and jobs != 0:
            out.add(f"{kind} ran {jobs} Spark jobs on the local tier")
        if workload == "serve_spark" and jobs < 1:
            out.add(f"{kind} ran no Spark job with the local tier off")
    return sorted(out)


def run(args, work: str) -> tuple[dict, dict, list[str]]:
    import kinds
    import reqgen
    import summary
    from solrplugins_spark.corpus import PLANTS
    from solrplugins_spark.index.segments import SegmentIndex, describe_index
    from spans import Tracer

    notes: list[str] = []
    t = time.perf_counter()
    spark = _session(work)
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    try:
        sc.setJobGroup("setup", "setup")
        tracer = Tracer() if args.trace else None
        if tracer is not None:
            tracer.install(spark, boundaries=False)  # engine layers only
        docs, idx, seg, store, build = _build(spark, work)
        setup_s = session_s + sum(build.values())
        if tracer is not None:
            tracer.uninstall()

        sc.setJobGroup("inputs", "inputs")
        dictionary = {r["term"]: int(r["df"]) for r in idx.terms.collect()}
        texts = sorted(
            (int(d), s) for d, s in docs.select("doc_id", "text").toPandas().itertuples(index=False)
        )
        pool = reqgen.make_pool(args.workload, args.seed, dictionary, texts, planted=PLANTS)
        unknown = sorted({t for q in pool for t in reqgen.request_terms(q)} - set(dictionary))
        if unknown:
            raise RuntimeError(f"request terms missing from the term dictionary: {unknown}")
        writable = os.path.join(work, "writable-gen")
        shutil.copytree(seg.path, writable)
        ctx = kinds.Ctx(
            spark=spark, seg=seg, store=store, writable=SegmentIndex.load(writable), idx=idx, docs=docs,
        )
        for req in pool:
            kinds.prepare(req, ctx)

        t = time.perf_counter()
        refs = _references(pool, ctx, sc)
        reference_s = time.perf_counter() - t

        cpu0 = summary.read_cpu_times()
        samples, untraced_wall, passes = _timed_loop(args, pool, ctx, sc, spark, tracer, notes)
        cpu1 = summary.read_cpu_times()

        wrong = _check(samples, refs, notes)
        counts = _job_counts(sc, [s["group"] for s in samples], bool(args.trace))
        for s in samples:
            s["jobs"], s["stages"], s["tasks"] = counts[s["group"]]
        guard = _tier_guard(args.workload, [(s["kind"], s["jobs"]) for s in samples])
        notes += [f"TIER GUARD: {g}" for g in guard]

        plain = [s for s in samples if not s["traced"]]
        ok_ms = [1000 * (s["call"] + s["collect"]) for s in plain if s["ok"]]
        by_kind: dict[str, list[float]] = {}
        for s in plain:
            if s["ok"]:
                by_kind.setdefault(s["kind"], []).append(1000 * (s["call"] + s["collect"]))
        if not ok_ms:
            raise RuntimeError("no request completed")
        tail_v, tail_p, tail_n = summary.tail(ok_ms, basis=MIN_PASSES[args.workload] * len(pool))
        jvm_pid = sc._gateway.proc.pid if getattr(sc._gateway, "proc", None) else None
        e2e = {
            "setup_s": setup_s,
            "req_p50_ms": summary.median(ok_ms),
            "req_tail_ms": tail_v,
            "req_per_s": len(plain) / untraced_wall,
            "peak_rss_mb": (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0,
            "index_bytes_per_turn": describe_index(seg.path)["total_bytes"] / N_TURNS,
        }
        failed = sum(not s["ok"] for s in samples) + wrong + len(guard)
        attempted = len(samples)
        info = {
            "workload": args.workload,
            "seed": args.seed,
            "request_digest": reqgen.digest(pool),
            "pool_size": len(pool),
            "passes": passes,
            "req_tail_percentile": tail_p,
            "req_tail_samples_beyond": tail_n,
            "samples": len(ok_ms),
            "failed_frac": failed / attempted,
            "spark_jobs_per_req": sum(s["jobs"] for s in plain) / len(plain),
            "host.steal_frac": summary.steal_frac(cpu0, cpu1),
            "build_phases_s": build,
            "session_s": session_s,
            "reference_s": reference_s,
            "pass_p50_ms": [
                round(summary.median([1000 * (s["call"] + s["collect"]) for s in plain if s["pass"] == q]), 1)
                for q in sorted({s["pass"] for s in plain})
            ],
            "kind_p50_ms": {k: round(summary.median(v), 1) for k, v in sorted(by_kind.items())},
        }
        layers = None
        if tracer is not None:
            import layers as L

            layers = L.per_layer(tracer, samples, build, session_s, N_TURNS, info["host.steal_frac"])
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
        result = {"correct": failed == 0, "attempted": attempted, "failed": failed}
        return result, {"e2e": e2e, "info": info, "layers": layers}, notes
    finally:
        _stop(spark)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "solrplugins_spark")):
        print(f"perfbench: no solrplugins_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    _configure_env(args.workload, work)
    try:
        result, m, notes = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # kept while another run uses it
        except OSError:
            pass
    for line in notes:
        print(line, file=sys.stderr)
    for k, v in m["info"].items():
        print(f"# {k} = {v}")
    for k, v in m["e2e"].items():
        print(f"# {k} = {v:.6g} {END_TO_END[k]}")
    if m["layers"] is None:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in m["e2e"].items()}
    else:
        for k, (v, unit) in m["layers"].items():
            print(f"# {k} = {v:.6g} {unit}")
        metrics = {k: {"value": v, "unit": unit} for k, (v, unit) in m["layers"].items()}
    print(json.dumps({**result, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
