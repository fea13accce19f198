"""The benchmark's workloads: closed-loop, one client, calls into the
engine's public functions only, each call timed from outside.

``serve``: a 32-cluster 10k x 128 corpus, built with
``build_two_layer_index`` -> ``compact_index`` -> ``save_compact_index``
(the mmap sidecar). After two untimed requests, four rounds of one
500-query batch (half OOD), four 8-query online requests and one
``save_compact_index`` of the index to a fresh artifact. A search is
``createDataFrame`` -> ``graph_search(sidecar)`` -> ``toPandas``. The
batches are kernel-bound; the online requests are bound by the per-job
floor. Every cluster holds more level-1 nodes than the layer-1 degree,
so the blocked build (used below ``BLOCKED_BUILD_LIMIT``) leaves each
cluster its own component and recall collapses; the benchmark reports
that as measured.

``upsert_read``: untimed pandas-UDF jobs that start the Python workers,
then a 2-cluster 2k x 128 artifact from ``init_graph_artifact``. Then
one fixed 200-row write (150 new ids, 50 updated ids), two reads, the
same batch replayed (must be ``"noop"``) and two reads. A read is
``load_graph_artifact`` -> ``compact_index`` -> ``graph_search`` of a
seeded 200-query set (half OOD), checked against exact ground truth
over the corpus as last written.

Each run does the fixed amount of work in ``SERVE`` or ``UPSERT``,
whatever run length it is given.

Every operation's output is checked (``checks.py``); a raise or a failed
check counts as a failure and the run goes on.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np
import pandas as pd

import gen
from checks import index_problems, recall, search_problems
from spans import Tracer

EF_SEARCH = 128

SERVE = {
    "n": 10_000, "clusters": 32, "batch": 500, "request": 8,
    "warm_requests": 2, "rounds": 4, "round_requests": 4,
}
UPSERT = {
    "n": 2_000, "clusters": 2, "new": 150, "updated": 50, "queries": 200,
    "reads": 2,  # reads after the write and after the replay
}


def artifact_buckets(n_rows: int, dim: int = gen.DIM) -> int:
    """Bucket count by graph_ingest's own sizing rule. It asks for bucket
    files of at least a few MB and for buckets well above the dirty-src
    count; both hold only at large corpora, so this keeps the file-size
    half, 4 MiB of vectors per bucket: one bucket at 2k rows. The default
    (1024) is sized for the large-corpus design point and makes every
    small-corpus step pay per-file costs on 1024 buckets."""
    return max(1, n_rows * dim * 4 // (4 << 20))


def dir_files(path: str) -> dict[int, tuple[int, int]]:
    """inode -> (mtime_ns, size) of every file under ``path``; a file
    renamed into place keeps its inode, a rewritten one does not."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[st.st_ino] = (st.st_mtime_ns, st.st_size)
    return out


def bytes_written(before: dict, after: dict) -> int:
    return sum(
        sz for ino, (mt, sz) in after.items()
        if before.get(ino, (None,))[0] != mt
    )


def _hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """One benchmark run: the session, the tracer and the failure count."""

    def __init__(self, seed: int, trace: bool, workdir: str,
                 t_start: float, cpus: int):
        self.seed, self.trace = seed, trace
        self.workdir, self.t_start, self.cpus = workdir, t_start, cpus
        self.tr = Tracer()
        self.attempted = self.failed = 0
        self.spark = None
        self.jvm_pid = None
        self.recall = {"in": [], "ood": []}
        self.kernel = {"in": [], "ood": []}  # per-query with_stats rows

    def start_spark(self):
        with self.tr.span("session.get_spark"):
            from vectordbindexing_spark.session import get_spark

            local = os.path.join(self.workdir, "spark")
            self.spark = get_spark(
                app_name="perfbench", cpus=self.cpus,
                extra_conf={
                    "spark.local.dir": local,
                    "spark.sql.warehouse.dir": os.path.join(local, "warehouse"),
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return self.spark

    def warm_up(self) -> None:
        """Untimed first Spark jobs with pandas UDFs: they start the Python
        workers and load the Arrow paths, which the first measured call
        would otherwise pay for."""
        def double(batches):
            for b in batches:
                yield b.assign(x=b["x"] * 2.0)

        with self.tr.span("session.warm_up"):
            df = self.spark.range(0, 4096, numPartitions=self.cpus).selectExpr(
                "id % 8 AS g", "CAST(id AS DOUBLE) AS x"
            )
            df.mapInPandas(double, df.schema).groupBy("g").applyInPandas(
                lambda pdf: pdf.head(1), df.schema
            ).toPandas()

    def op(self, what: str, thunk):
        """Run one operation; ``thunk`` returns (result, problems). A raise
        or a problem counts as a failure, and the run goes on."""
        self.attempted += 1
        try:
            res, probs = thunk()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res, probs = None, ["raised"]
        if probs:
            self.failed += 1
            print(f"# FAILED {what}: {'; '.join(probs)}", file=sys.stderr)
        return res

    def search(self, index, qids, queries, gt, ids, vecs, n_in: int):
        """One request: createDataFrame -> graph_search -> toPandas."""
        from vectordbindexing_spark.operators.search import graph_search

        with self.tr.span("driver.create_df"):
            qdf = self.spark.createDataFrame(
                pd.DataFrame({"qid": qids, "vec": list(queries)})
            )
        with self.tr.span("search.graph_search"):
            out = graph_search(
                qdf, index, k=gen.K, ef_search=EF_SEARCH,
                with_stats=self.trace,
            ).toPandas()
        with self.tr.span("harness.check"):
            rec = recall(out, qids, gt)
            self.recall["in"].extend(rec[:n_in])
            self.recall["ood"].extend(rec[n_in:])
            if self.trace:
                first = out[out["nbr_rank"] == 1].set_index("qid")
                for part, sel in (("in", qids[:n_in]), ("ood", qids[n_in:])):
                    self.kernel[part].append(
                        first.loc[first.index.intersection(sel),
                                  ["visited_count", "hops", "latency_us"]]
                    )
            return out, search_problems(out, qids, queries, ids, vecs)

    def peak_rss_mb(self, pid="self") -> float:
        """Peak resident set of the Python driver (where every collect
        lands) since :meth:`reset_peak_rss`, or of another process such
        as the JVM over its life."""
        return _hwm_kb(pid) / 1024.0

    @staticmethod
    def reset_peak_rss() -> None:
        """Start the driver's peak resident set afresh, so that it covers
        the engine calls and not the benchmark's own input generation and
        numpy ground truth."""
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")

    def stop_spark(self) -> None:
        """Stop the session and its JVM, and wait for both, and for the
        JVM's Python workers, to end."""
        if self.spark is None:
            return
        kids = _descendants(self.jvm_pid)
        gw = self.spark.sparkContext._gateway
        self.spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gw.proc.wait(timeout=60)
        deadline = time.monotonic() + 30
        while kids and time.monotonic() < deadline:
            kids = [p for p in kids if _alive(p)]
            time.sleep(0.1)
        self.spark = None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _descendants(pid: int) -> list[int]:
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out.extend(kids)
        todo.extend(kids)
    return out


def _med(xs) -> float:
    return float(statistics.median(xs))


# -- serve ---------------------------------------------------------------


def serve(run: Run, size: dict = SERVE) -> tuple[dict, dict]:
    """End-to-end metrics and the spans the per-layer ones read."""
    from vectordbindexing_spark.operators.graph import build_two_layer_index
    from vectordbindexing_spark.operators.search import (
        compact_index,
        load_compact_npy,
    )
    from vectordbindexing_spark.operators.shard import (
        compact_npy_dir,
        save_compact_index,
    )

    spark = run.start_spark()
    tr = run.tr
    n = size["n"]
    rounds, per_round = size["rounds"], size["round_requests"]

    def query_sets(count, m):
        out = []
        for _ in range(count):
            q = c.queries(m // 2, m - m // 2)
            out.append((np.arange(m, dtype=np.int64), q,
                        gen.exact_topk(q, ids, vecs), m // 2))
        return out

    with tr.span("harness.inputs"):
        c = gen.corpus(run.seed, size["clusters"])
        ids = np.arange(n, dtype=np.int64)
        vecs = gen.dataset(size["clusters"], n)
        warm = query_sets(size["warm_requests"], size["request"])
        batches = query_sets(rounds, size["batch"])
        requests = query_sets(rounds * per_round, size["request"])
    run.reset_peak_rss()

    art = os.path.join(run.workdir, "serve_artifact")

    def sidecar_problems(path):
        return [f"sidecar: {p}" for p in
                index_problems(load_compact_npy(compact_npy_dir(path)), ids, vecs)]

    def build():
        with tr.span("driver.create_df"):
            df = spark.createDataFrame(
                pd.DataFrame({"id": ids, "vec": list(vecs)})
            )
        with tr.span("graph.build_two_layer_index"):
            edges = build_two_layer_index(df).localCheckpoint(eager=True)
        with tr.span("search.compact_index"):
            index = compact_index(edges, df)
        with tr.span("shard.save_compact_index"):
            save_compact_index(index, spark, art)
        side = compact_npy_dir(art)
        with tr.span("harness.check"):
            probs = index_problems(index, ids, vecs) + sidecar_problems(art)
        return (index, side), probs

    with tr.span("build") as build_sp:
        built = run.op("build", build)
    if built is None:
        raise RuntimeError("serve: the index build failed")
    index, side = built
    build_s = sum(
        s.dur for s in build_sp.children
        if s.name in ("graph.build_two_layer_index", "search.compact_index",
                      "shard.save_compact_index")
    )
    with tr.span("harness.du"):
        art_bytes = sum(sz for _, sz in dir_files(art).values())
    # untimed requests: first touch of the sidecar and of the search
    # path in each worker
    with tr.span("warmup"):
        for qids, q, gt, n_in in warm:
            run.op("warmup", lambda: run.search(side, qids, q, gt, ids, vecs, n_in))
    run.recall = {"in": [], "ood": []}
    run.kernel = {"in": [], "ood": []}
    mark = tr.last_id
    setup_s = time.perf_counter() - run.t_start

    def resave(path):
        """The index written again as a fresh artifact; a write sample."""
        with tr.span("shard.save_compact_index"):
            save_compact_index(index, spark, path)
        with tr.span("harness.check"):
            probs = sidecar_problems(path)
            shutil.rmtree(path)
        return None, probs

    # rounds of one batch, a run of online requests and one write, so
    # that every metric samples the whole measured phase
    qps, lat_ms, write_s = [], [], []
    for r in range(rounds):
        qids, q, gt, n_in = batches[r]
        with tr.span("batch", req=r) as sp:
            run.op("batch", lambda: run.search(side, qids, q, gt, ids, vecs, n_in))
        qps.append(len(qids) / _engine_s(sp))
        for i in range(r * per_round, (r + 1) * per_round):
            qids, q, gt, n_in = requests[i]
            with tr.span("request", req=i) as sp:
                run.op("request",
                       lambda: run.search(side, qids, q, gt, ids, vecs, n_in))
            lat_ms.append(_engine_s(sp) * 1e3)
        with tr.span("write", req=r) as sp:
            run.op("write", lambda: resave(f"{art}_{r}"))
        write_s.append(_engine_s(sp))
    live_bytes = n * gen.DIM * 4
    return {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "qps": (_med(qps), "1/s"),
        **_recall_metrics(run),
        "latency_p50_ms": (_med(lat_ms), "ms"),
        "write_p50_s": (_med(write_s), "s"),
        "write_amp": (art_bytes / live_bytes, "ratio"),
        "space_amp": (art_bytes / live_bytes, "ratio"),
        "driver_peak_rss_mb": (run.peak_rss_mb(), "MB"),
    }, {
        "mark": mark,
        "build": tr.named("graph.build_two_layer_index")[0],
        "write": tr.named("shard.save_compact_index", after=mark),
        "write_bytes": art_bytes,
        "artifact_bytes": art_bytes,
    }


# -- upsert_read -----------------------------------------------------------


def upsert_read(run: Run, size: dict = UPSERT) -> tuple[dict, dict]:
    """End-to-end metrics and the spans the per-layer ones read."""
    from vectordbindexing_spark.operators.search import compact_index
    from vectordbindexing_spark.streaming.graph_ingest import (
        init_graph_artifact,
        load_graph_artifact,
        upsert_graph_artifact,
    )

    spark = run.start_spark()
    tr = run.tr
    n = size["n"]
    nq = size["queries"]
    with tr.span("harness.inputs"):
        c = gen.corpus(run.seed, size["clusters"])
        ids0 = np.arange(n, dtype=np.int64)
        vecs0 = gen.dataset(size["clusters"], n)
        upd, b_vecs = gen.write_batch(size["clusters"], n, size["new"],
                                      size["updated"])
        b_ids = np.concatenate(
            [np.arange(n, n + size["new"], dtype=np.int64), upd]
        )
        # the corpus as last written, after the batch
        ids1 = np.concatenate([ids0, b_ids[: size["new"]]])
        vecs1 = np.concatenate([vecs0, b_vecs[: size["new"]]])
        vecs1[upd] = b_vecs[size["new"]:]
        qids = np.arange(nq, dtype=np.int64)
        queries = c.queries(nq // 2, nq - nq // 2)
        gt1 = gen.exact_topk(queries, ids1, vecs1)
        base_pdf = pd.DataFrame({"id": ids0, "vec": list(vecs0)})
        batch_pdf = pd.DataFrame({"id": b_ids, "vec": list(b_vecs)})
    user_bytes = b_vecs.nbytes
    run.reset_peak_rss()
    # init_graph_artifact is short next to the session's first-use costs;
    # serve's build is not, and times them as a user's first build would
    run.warm_up()

    art = os.path.join(run.workdir, "graph_artifact")
    with tr.span("driver.create_df"):
        base = spark.createDataFrame(base_pdf)
    with tr.span("graph_ingest.init_graph_artifact") as init_sp:
        init_graph_artifact(base, art, buckets=artifact_buckets(n))
    build_s = init_sp.dur
    setup_s = time.perf_counter() - run.t_start

    written = []

    def write(expect: str):
        with tr.span("driver.create_df"):
            bdf = spark.createDataFrame(batch_pdf)
        with tr.span("harness.du"):
            before = dir_files(art)
        try:
            with tr.span("graph_ingest.upsert_graph_artifact"):
                status = upsert_graph_artifact(bdf, art)
        finally:
            with tr.span("harness.du"):
                written.append(bytes_written(before, dir_files(art)))
        probs = [] if status == expect else [f"status {status!r}, expected {expect!r}"]
        return status, probs

    def read():
        with tr.span("graph_ingest.load_graph_artifact"):
            v, e, meta = load_graph_artifact(spark, art)
        with tr.span("search.compact_index"):
            index = compact_index(e, v)
        with tr.span("harness.check"):
            probs = index_problems(index, ids1, vecs1)
            if meta.get("n_live") != len(ids1):
                probs.append(f"n_live {meta.get('n_live')}, expected {len(ids1)}")
        _, sprobs = run.search(index, qids, queries, gt1, ids1, vecs1, nq // 2)
        return None, probs + sprobs

    reads = []
    for name, expect in (("write", "upsert"), ("replay", "noop")):
        with tr.span(name):
            run.op(name, lambda: write(expect))
        for _ in range(size["reads"]):
            with tr.span("read") as sp:
                run.op("read", read)
            reads.append(sp)
    upserts = tr.named("graph_ingest.upsert_graph_artifact")
    with tr.span("harness.du"):
        art_bytes = sum(sz for _, sz in dir_files(art).values())
    search_s = [
        sum(c.dur for c in r.children
            if c.name in ("driver.create_df", "search.graph_search"))
        for r in reads
    ]
    return {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "qps": (_med([nq / s for s in search_s]), "1/s"),
        **_recall_metrics(run),
        "latency_p50_ms": (_med([_engine_s(r) * 1e3 for r in reads]), "ms"),
        "write_p50_s": (upserts[0].dur, "s"),
        "write_amp": (written[0] / user_bytes, "ratio"),
        "space_amp": (art_bytes / (len(ids1) * gen.DIM * 4), "ratio"),
        "driver_peak_rss_mb": (run.peak_rss_mb(), "MB"),
    }, {
        "mark": 0,
        "build": init_sp,
        "write": upserts[:1],
        "write_bytes": written[0],
        "artifact_bytes": art_bytes,
    }


def _engine_s(span) -> float:
    """Seconds a request spent in its calls into Spark and the engine,
    leaving out the benchmark's own checks."""
    return sum(c.dur for c in span.children if c.name in ROLES)


def _recall_metrics(run: Run) -> dict:
    return {
        "recall_at_10": (float(np.mean(run.recall["in"] or [0.0])), "ratio"),
        "recall_at_10_ood": (float(np.mean(run.recall["ood"] or [0.0])), "ratio"),
    }


WORKLOADS = {"serve": serve, "upsert_read": upsert_read}

# span name -> the layer role its self time is reported under. Spans
# named harness.* time the benchmark's own work (inputs, ground truth,
# checks, disk usage) and report as "harness". The rest, the run and the
# request containers, should hold nothing but these; their self time is
# wall that no role accounts for, and it is what reconcile_err measures.
ROLES = {
    "session.get_spark": "session",
    "session.warm_up": "session",
    "driver.create_df": "driver",
    "graph.build_two_layer_index": "build",
    "graph_ingest.init_graph_artifact": "build",
    "search.compact_index": "read",
    "search.graph_search": "read",
    "graph_ingest.load_graph_artifact": "read",
    "shard.save_compact_index": "write",
    "graph_ingest.upsert_graph_artifact": "write",
}


def layer_metrics(run: Run, lay: dict) -> dict:
    """Per-layer metrics of a traced run, from its spans joined with the
    Spark status store. Call after the workload, before the stop."""
    tr = run.tr
    tr.close()
    tr.attach_spark_jobs(run.spark)
    t = time.perf_counter()
    mark = lay["mark"]
    m = {"session.get_spark_s": (tr.named("session.get_spark")[0].dur, "s"),
         "driver.create_df_s": (_med([s.dur for s in tr.named("driver.create_df", mark)]), "s")}
    for prefix, spans in (
        ("build", [lay["build"]]),
        ("search.compact_index", tr.named("search.compact_index")),
        ("search.graph_search", tr.named("search.graph_search", mark)),
        ("write", lay["write"]),
    ):  # the median over the measured calls, warm-up left out
        for key, unit in (("s", "s"), ("jobs", "count"), ("job_s", "s"), ("gap_s", "s")):
            m[f"{prefix}.{key}"] = (
                _med([sp.dur if key == "s" else sp.stats[key] for sp in spans]), unit
            )
    for part in ("in", "ood"):
        k = pd.concat(run.kernel[part])
        m[f"search.visited_per_query.{part}"] = (float(k["visited_count"].mean()), "count")
        m[f"search.hops_per_query.{part}"] = (float(k["hops"].mean()), "count")
        m[f"search.kernel_us_p50.{part}"] = (float(k["latency_us"].median()), "us")
    m["write.shuffle_bytes"] = (
        _med([s.stats["shuffle_bytes"] for s in lay["write"]]), "bytes")
    m["write.bytes_written"] = (lay["write_bytes"], "bytes")
    m["artifact_bytes"] = (lay["artifact_bytes"], "bytes")
    m["driver.jvm_peak_rss_mb"] = (run.peak_rss_mb(run.jvm_pid), "MB")
    root = tr.root.stats
    m["spark.jobs"] = (root["jobs"], "count")
    m["spark.job_s"] = (root["job_s"], "s")
    m["spark.shuffle_bytes"] = (root["shuffle_bytes"], "bytes")
    m["spark.spill_bytes"] = (root["spill_bytes"], "bytes")
    m["spark.executor_run_s"] = (root["executor_run_s"], "s")
    self_s = dict.fromkeys(["session", "driver", "build", "read", "write", "harness"], 0.0)
    for s in tr.spans():
        role = "harness" if s.name.startswith("harness.") else ROLES.get(s.name)
        if role is not None:
            self_s[role] += s.self_s
    for role, v in self_s.items():
        m[f"self_s.{role}"] = (v, "s")
    # process wall, imports before the first span included
    wall = tr.root.t1 - run.t_start
    tr.overhead_s += time.perf_counter() - t
    m["trace.wall_s"] = (wall, "s")
    m["trace.reconcile_err"] = (abs(wall - sum(self_s.values())) / wall, "ratio")
    m["trace.overhead_s"] = (tr.overhead_s, "s")
    return m
