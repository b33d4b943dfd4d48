"""Benchmark of the paper's pipeline: ingest a WAT segment, serve
``POST /api/links``.

    python3 perfbench/run.py --workload ingest|api --seed N --seconds S --trace 0|1

Run from the root of a checkout. Inputs are generated from ``--seed``
inside ``.perfbench_work/`` (removed at exit); traced runs write their
spans and every run its host stamp to ``.perfbench_out/``. The last
stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the
per-layer metrics (``--trace 1``). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import socket
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PY = sys.executable

INGEST_PAGES = 5_000     # pages per ingest pass (one segment)
API_PAGES = 8_000        # pages behind the api workload's serving table
FILES = 4                # gzip WAT files per segment, one per core
CLIENTS = 2              # closed-loop API clients
INGEST_API_PROBES = 5    # oracle-checked requests over a traced ingest's table


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside the work
    directory, and let Spark's Python workers and the ``serve``
    subprocess import the package from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    # get_spark and `serve` size local[N] and shuffle partitions from it
    os.environ["SPARK_GRAFT_CPUS"] = str(FILES)
    sys.path.insert(0, ROOT)


def _stamp(args, sizes: dict) -> dict:
    model = ""
    try:
        with open("/proc/cpuinfo", encoding="ascii", errors="replace") as fh:
            model = next((l.split(":", 1)[1].strip() for l in fh
                          if l.startswith("model name")), "")
    except OSError:
        pass
    return {"workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "nproc": os.cpu_count(), "cpu_model": model,
            "python": platform.python_version(), **sizes}


def _generate(out: str, seed: int, pages: int, files: int,
              compacted: str = "") -> subprocess.Popen:
    return subprocess.Popen(
        [PY, os.path.join(HERE, "corpus.py"), out, str(seed), str(pages),
         str(files), *([compacted] if compacted else [])])


def _expected(gen: subprocess.Popen, out: str) -> dict:
    if gen.wait() != 0:
        raise RuntimeError(f"corpus generator failed: {gen.args}")
    with open(os.path.join(out, "expected.json"), encoding="utf-8") as fh:
        return json.load(fh)


def _stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit (it exits when the
    gateway's stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---- ingest -----------------------------------------------------------------

def ingest(args, work: str) -> tuple[dict, int, int, bool, dict]:
    import measure as M
    import pipeline as P
    from globallinks_spark.session import get_spark

    corpus = os.path.join(work, "corpus")
    gen = _generate(corpus, args.seed, INGEST_PAGES, FILES)
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench-ingest")
    session_s = time.perf_counter() - t0
    expected = _expected(gen, corpus)
    tree = M.ProcTree(os.getpid(), M.jvm_pid(spark))

    # set-up: session start and the first, cold pass (codegen and JIT)
    t0 = time.perf_counter()
    P.run_pass(spark, expected["files"], os.path.join(work, "cold"))
    cold_s = time.perf_counter() - t0
    setup_s = session_s + cold_s

    tracer = M.Tracer(args.trace, spark.sparkContext)
    passes, failed, busy, last = [], 0, 0.0, None
    # a traced run orders passes untraced, traced, traced, untraced, so
    # the tracing overhead is measured within one run and JIT warm-up
    # drift cancels out of it
    while busy < args.seconds or (args.trace and len(passes) < 4):
        traced = args.trace and len(passes) % 4 in (1, 2)
        out = os.path.join(work, f"pass{len(passes)}")
        c0, t0 = tree.cpu_s(), time.perf_counter()
        st = P.run_pass(spark, expected["files"], out,
                        tracer if traced else None)
        wall, cpu = time.perf_counter() - t0, tree.cpu_s() - c0
        busy += wall
        check = P.check_outputs(spark, out, expected)
        failed += not check["ok"]
        passes.append({**st, "wall": wall, "cpu": cpu, "traced": traced,
                       "check": check})
        if last:
            shutil.rmtree(last, ignore_errors=True)
        last = out

    info = {"passes": [{k: v for k, v in p.items() if not k.endswith("_span")}
                       for p in passes],
            "expected": {k: v for k, v in expected.items() if k != "files"},
            "setup": {"session_s": session_s, "cold_pass_s": cold_s}}
    plain = [p for p in passes if not p["traced"]]
    if args.trace:
        import apiload as A

        counters = M.StageCounters(spark)
        traced = [p for p in passes if p["traced"]]
        metrics, ok = P.traced_metrics(spark, tracer, counters, traced,
                                       expected["files"], last, work)
        api = A.traced_probes(spark, tracer, counters, P.serving_path(last),
                              args.seed, INGEST_API_PROBES)
        metrics.update(api["metrics"])
        metrics["trace.overhead_ms"] = (M.median([p["wall"] for p in traced])
                                        - M.median([p["wall"] for p in plain])) * 1e3
        metrics["trace.spans"] = len(tracer.spans)
        metrics["process.peak_rss_mb"] = tree.peak_rss_mb()
        tracer.write(os.path.join(ROOT, ".perfbench_out",
                                  f"spans-ingest-{args.seed}.json"))
        failed += api["failed"] + (not ok)
        attempted = len(passes) + api["attempted"] + 1
        info["api_probes"] = api["info"]
    else:
        walls = [p["wall"] for p in plain]
        metrics = {
            "setup_s": setup_s,
            "throughput_per_s": M.median([INGEST_PAGES / w for w in walls]),
            "latency_p50_ms": M.median(walls) * 1e3,
            "latency_p75_ms": M.quantile(walls, 75) * 1e3,
            "cpu_ms_per_item": M.median([p["cpu"] / INGEST_PAGES * 1e3 for p in plain]),
        }
        info["peak_rss_mb"] = tree.peak_rss_mb()
        attempted = len(passes)
    _stop_spark(spark)
    return metrics, attempted, failed, failed == 0, info


# ---- api --------------------------------------------------------------------

def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _wait_health(port: int, proc: subprocess.Popen, timeout: float = 150) -> None:
    import http.client

    t_end = time.perf_counter() + timeout
    while time.perf_counter() < t_end:
        if proc.poll() is not None:
            raise RuntimeError(f"server exited with {proc.returncode}")
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=2)
            conn.request("GET", "/api/health")
            if conn.getresponse().status == 200:
                return
        except OSError:
            time.sleep(0.05)
        finally:
            conn.close()
    raise RuntimeError("server did not become healthy")


def _stop_server(proc: subprocess.Popen, pids: list[int]) -> None:
    """SIGTERM the server, then wait until it and its JVM are gone."""
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    t_end = time.perf_counter() + 60
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.perf_counter() < t_end:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def api(args, work: str) -> tuple[dict, int, int, bool, dict]:
    """The table is the generator's compacted rows stored by the
    package's ``store`` command; then a ``serve`` subprocess answers a
    closed loop of ``CLIENTS`` clients."""
    import apiload as A
    import measure as M
    import pipeline as P

    rows, out = os.path.join(work, "rows"), os.path.join(work, "table")
    compacted = os.path.join(out, "compact", f"segment={P.SEGMENT}", "part-0.parquet")
    gen = _generate(rows, args.seed, API_PAGES, FILES, compacted)
    if args.trace:
        return _api_traced(args, work, out, lambda: _expected(gen, rows))
    expected = _expected(gen, rows)
    serving = P.serving_path(out)

    t0 = time.perf_counter()
    subprocess.run([PY, "-m", "globallinks_spark", "store", out, serving],
                   cwd=work, check=True, stdout=subprocess.DEVNULL)
    store_s = time.perf_counter() - t0
    domains = A.serving_domains(serving)
    table_ok = sum(n for _, n in domains) == expected["compact_rows"]
    addrs = A.Addresses(first_octet=1)

    port = _free_port()
    t0 = time.perf_counter()
    server = subprocess.Popen(
        [PY, "-m", "globallinks_spark", "serve", serving, str(port)],
        cwd=work, stdout=subprocess.DEVNULL)
    tree = M.ProcTree(server.pid)
    try:
        _wait_health(port, server)
        health_s = time.perf_counter() - t0
        status, _ = A.post(port, addrs.next(), {"domain": domains[0][0]})
        setup_s = time.perf_counter() - t0
        warm_addr, warm_mix = addrs.next(), A.RequestMix(domains, args.seed + 1)
        warm = [A.post(port, warm_addr, warm_mix.next())[0]
                for _ in range(A.WARM_REQUESTS)]
        c0 = tree.cpu_s()
        res = A.closed_loop(port, A.RequestMix(domains, args.seed), CLIENTS,
                            args.seconds, addrs)
        cpu = tree.cpu_s() - c0
        peak = tree.peak_rss_mb()
    except BaseException:
        _stop_server(server, tree.pids())
        raise
    pids = tree.pids()
    server.terminate()
    wrong = A.Oracle(serving).wrong(res["replies"])  # while the server exits
    _stop_server(server, pids)

    lat = res["latencies"]
    metrics = {
        "setup_s": setup_s,
        "throughput_per_s": len(lat) / res["window_s"],
        "latency_p50_ms": M.median(lat) * 1e3,
        "latency_p75_ms": M.quantile(lat, 75) * 1e3,
        "cpu_ms_per_item": cpu / max(len(lat), 1) * 1e3,
    }
    failed = res["failed"] + wrong
    ok = table_ok and status == 200 and set(warm) == {200} and failed == 0
    info = {"requests": len(lat), "failures": res["failures"],
            "oracle_mismatches": wrong, "table_ok": table_ok,
            "setup": {"store_s": store_s, "health_s": health_s},
            "peak_rss_mb": peak,
            "domains": len(domains),
            "expected": {k: v for k, v in expected.items() if k != "files"}}
    return metrics, res["attempted"], failed, ok, info


def _api_traced(args, work, out, table_rows):
    """In-process: the ingest layers once over the api corpus as WAT
    files, the table stored as in the untraced run, then the traced
    load."""
    import apiload as A
    import measure as M
    import pipeline as P
    from globallinks_spark import runner
    from globallinks_spark.session import get_spark

    corpus = os.path.join(work, "corpus")
    gen = _generate(corpus, args.seed, API_PAGES, FILES)
    spark = get_spark(app_name="perfbench-api")
    table_rows()
    expected = _expected(gen, corpus)
    tracer = M.Tracer(True, spark.sparkContext)
    counters = M.StageCounters(spark)
    probe_dir = os.path.join(work, "ingest")
    st = P.run_pass(spark, expected["files"], probe_dir, tracer)
    st["check"] = check = P.check_outputs(spark, probe_dir, expected)
    metrics, probes_ok = P.traced_metrics(spark, tracer, counters, [st],
                                          expected["files"], probe_dir, work)
    serving = P.serving_path(out)
    runner.run_store(spark, out, serving)
    table_ok = sum(n for _, n in A.serving_domains(serving)) == expected["compact_rows"]
    load = A.traced_load(spark, tracer, counters, serving, args.seed,
                         CLIENTS, args.seconds)
    metrics.update(load["metrics"])
    metrics["trace.spans"] = len(tracer.spans)
    metrics["process.peak_rss_mb"] = M.ProcTree(os.getpid()).peak_rss_mb()
    tracer.write(os.path.join(ROOT, ".perfbench_out", f"spans-api-{args.seed}.json"))
    _stop_spark(spark)
    failed = (load["failed"] + (not check["ok"]) + (not probes_ok)
              + (not table_ok))
    return (metrics, load["attempted"] + 3, failed, failed == 0,
            {"ingest_check": check, **load["info"]})


# ---- main -------------------------------------------------------------------

WORKLOADS = {"ingest": ingest, "api": api}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work)
    try:
        import globallinks_spark  # noqa: F401  fails fast outside a checkout

        metrics, attempted, failed, correct, info = WORKLOADS[args.workload](args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sizes = {"ingest_pages": INGEST_PAGES, "api_pages": API_PAGES,
             "files": FILES, "clients": CLIENTS}
    stamp = {**_stamp(args, sizes), "info": info}
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench_out",
                           f"result-{args.workload}-{args.seed}-{args.trace}.json"),
              "w", encoding="utf-8") as fh:
        json.dump({**stamp, "metrics": metrics}, fh, indent=1, default=str)
    units = _declared_units(args.trace)
    if set(metrics) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(set(metrics) ^ set(units))}")
    print(json.dumps(_stamp(args, sizes)))
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": {
                          k: {"value": float(metrics[k]), "unit": u}
                          for k, u in units.items()}}))
    return 0


def _declared_units(trace: int) -> dict[str, str]:
    """Metric name → unit, as BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"]
            for m in spec["per_layer" if trace else "end_to_end"]}

if __name__ == "__main__":
    sys.exit(main())
