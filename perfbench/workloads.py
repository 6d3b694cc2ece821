"""The benchmark's workloads, their output checks and their metrics.

Each workload is a single-process closed loop with one client: the next
op starts when the previous one has returned.  A workload repeats whole
rounds (its unit of work) until `seconds` have passed, at least once.
Outputs are checked outside the timed window; a wrong answer counts as a
failed op.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import shutil
import sys
import time
import traceback
from statistics import median

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.trace import (
    Tracer,
    descendants,
    find_event_log,
    parse_event_log,
    self_times,
    span_stats,
    tail,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# --- sizes ------------------------------------------------------------------
# Every run is a fresh process with its own Spark start, so these keep a
# run, session start included, near a minute on a 4-core machine: the
# gated schedule of 48 runs must end within 3420 s.  Loading runs as its
# own process per input, so the timed ingest is cold, as a user's is.  A
# cold ingest of 10k records is almost all per-job cost (class loading,
# JIT, job scheduling); at 300k, per-variant parse, store write and index
# work is about 30% of it.
VCF_RECORDS = 300_000
VCF_SHARDS = 4
LOOKUPS_PER_ROUND = 20
MAINT_DOCS = 160
MAINT_EVENTS = 50_000
MAINT_BOOT_FRAC = 0.6
# per maintained table: Z-set batches after the bootstrap batch, and the
# rows each inserts and retracts.  A dedup batch costs ~70 Spark jobs.
MAINT_BATCHES = {"documents": (1, 8, 4), "events": (4, 24, 12)}
MAINT_SINKS = ["dedup", "rollup"]
# From-scratch recomputes over the final retained rows, one per round
# each: the query function (build) plus a full-column noop write of its
# frame (execute).  q_dedup_keep is build-bound (LSH + connected
# components on the driver); the events queries are execute-bound
# (aggregate, window, shuffle).
RECOMPUTE = ["q_dedup_keep", "q_rollup_incremental", "q_events_sessions"]

ROLLUP_ORACLE = """
SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS bucket, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(28,12))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


@functools.cache
def _check_oracle_module():
    """tools/check_oracle.py's normalisation, imported without letting
    its import-time sys.path edit leak into this process."""
    saved = list(sys.path)
    try:
        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(ROOT, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


def same_rows(spark_pdf, duck_pdf) -> str | None:
    """None when the frames hold the same rows under check_oracle's
    normalisation, else a one-line reason."""
    co = _check_oracle_module()
    scols, dcols = list(spark_pdf.columns), list(duck_pdf.columns)
    srows = [tuple(r) for r in spark_pdf.itertuples(index=False, name=None)]
    drows = [tuple(r) for r in duck_pdf.itertuples(index=False, name=None)]
    collapse = co.date_like_cols(scols, srows).symmetric_difference(
        co.date_like_cols(dcols, drows)
    )
    s, d = co.to_rows(scols, srows, collapse), co.to_rows(dcols, drows, collapse)
    if s[0] != d[0]:
        return f"columns {s[0]} != {d[0]}"
    if len(s) != len(d):
        return f"{len(s) - 1} rows != {len(d) - 1}"
    bad = sum(a != b for a, b in zip(s[1:], d[1:]))
    return f"{bad} rows differ" if bad else None


class Run:
    """State of one benchmark run: the session, the tracer and the op
    ledger every workload reports through."""

    def __init__(self, spark, seed: int, seconds: float, run_dir: str, tracer: Tracer, t0: float):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.run_dir = run_dir
        self.tr = tracer
        self.t0 = t0
        self.setup_s: float | None = None
        self.op_times: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.round_spans: list = []

    def op(self, name: str, fn, timed: bool = True, **attrs) -> tuple[bool, object]:
        """One op; an exception counts it failed.  Its time joins the op
        times when `timed` and the rounds have begun (warm-up ops and
        the steps that set up a round's ops count only as attempted)."""
        self.attempted += 1
        with self.tr.span(name, **attrs) as sp:
            try:
                out = fn()
            except Exception:  # noqa: BLE001 - a failed op is data, the loop goes on
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                return False, None
        if timed and self.setup_s is not None:
            self.op_times.append(sp.dur)
        return True, out

    def mark_wrong(self, what: str, reason: str, n_ops: int = 1) -> None:
        """A wrong answer: `n_ops` ops that returned it move to failed."""
        print(f"perfbench: wrong answer: {what}: {reason}", file=sys.stderr)
        self.wrong.append(what)
        self.failed += n_ops

    def rounds(self, one_round) -> None:
        """Whole rounds until `seconds` have passed, at least one.  Set-up
        ends, and timing begins, here."""
        start = time.perf_counter()
        self.setup_s = start - self.t0
        k = 0
        while k == 0 or time.perf_counter() - start < self.seconds:
            with self.tr.span("round", k=k) as sp:
                one_round(k)
            self.round_spans.append(sp)
            k += 1


# ---------------------------------------------------------------------------
# vcf_ingest
# ---------------------------------------------------------------------------
def _ingest(run: Run, vcf_dir: str, store_root: str, n_expected: int):
    """Parse, load and index into a fresh store: (store or None, span)."""
    from vcf_pg_loader_spark.sources.store import VariantStore
    from vcf_pg_loader_spark.sources.vcf import read_vcf

    def ingest():
        with run.tr.span("vcf.read"):
            variants = read_vcf(run.spark, os.path.join(vcf_dir, "*.vcf"), normalize=True)
        store = VariantStore(run.spark, store_root)
        with run.tr.span("store.load"):
            res = store.load(variants, os.path.join(vcf_dir, "shard00.vcf"))
        with run.tr.span("store.rsid_index"):
            store.build_rsid_index()
        if res.variants_loaded != n_expected:
            run.mark_wrong("ingest", f"{res.variants_loaded} rows != {n_expected}")
        return store

    _ok, store = run.op("ingest", ingest, timed=False)
    return store, run.tr.named("ingest")[-1]


def _lookup(store, key):
    cols = ("chrom", "pos", "ref", "alt", "rs_id")
    if key[0] == "variant":
        df = store.lookup_variant(key[1], key[2])
    elif key[0] == "rsid":
        df = store.lookup_rsid(key[1])
    else:
        df = store.query_region(key[1], key[2], key[3])
    return sorted(
        (tuple(r) for r in df.select(*cols).collect()), key=gen._row_key
    )


def _run_lookups(run: Run, store, ops: list) -> None:
    results = [(key, want, run.op("store.lookup", lambda k=key: _lookup(store, k), kind=key[0]))
               for key, want in ops]
    for key, want, (ok, got) in results:
        if ok and got != want:
            run.mark_wrong(f"lookup {key}", f"{len(got)} rows, expected {len(want)}")


def vcf_ingest(run: Run) -> dict:
    with run.tr.span("warmup"):
        vcf_dir = os.path.join(run.run_dir, "vcf")
        expected = gen.make_vcf(run.seed, vcf_dir, VCF_RECORDS, VCF_SHARDS)
        n_lookups = LOOKUPS_PER_ROUND * 16
        lookups = gen.make_lookups(run.seed, expected, n_lookups)

    ingests = []
    last = {}

    def one_round(k):
        store, sp = _ingest(run, vcf_dir, os.path.join(run.run_dir, f"store{k}"), len(expected))
        ingests.append(sp)
        lo = (k * LOOKUPS_PER_ROUND) % n_lookups
        batch = lookups[lo:lo + LOOKUPS_PER_ROUND]
        if store is None:
            run.attempted += len(batch)
            run.failed += len(batch)
            return
        _run_lookups(run, store, batch)
        last["store"] = store

    run.rounds(one_round)
    # the whole stored variant set, once, outside the timed window
    if "store" in last:
        got = _lookup_all(last["store"])
        if got != expected:
            run.mark_wrong("store contents", f"{len(got)} rows vs {len(expected)} expected")
    return {
        "store": last.get("store"),
        "n_records": VCF_RECORDS,
        "n_rows": len(expected),
        "ingest_variants_per_s": VCF_RECORDS / median([s.dur for s in ingests]),
    }


def _lookup_all(store):
    cols = ("chrom", "pos", "ref", "alt", "rs_id")
    pdf = store.read().select(*cols).toPandas()  # Arrow: far cheaper than collect()
    return sorted(((c, int(p), r, a, None if pd.isna(rs) else rs)
                   for c, p, r, a, rs in pdf.itertuples(index=False, name=None)),
                  key=gen._row_key)


# ---------------------------------------------------------------------------
# incremental_maint
# ---------------------------------------------------------------------------
def _tree_files(path: str) -> dict[int, int]:
    """inode -> size of every regular file under `path`."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[st.st_ino] = st.st_size
    return out


def _zset_file(table: pa.Table, id_col: str, step: dict, path: str) -> str:
    ins = table.filter(pc.is_in(table[id_col], pa.array(step["insert"], pa.int64())))
    dels = table.filter(pc.is_in(table[id_col], pa.array(step["delete"], pa.int64())))
    z = pa.concat_tables([
        ins.append_column("_mult", pa.array([1] * ins.num_rows, pa.int64())),
        dels.append_column("_mult", pa.array([-1] * dels.num_rows, pa.int64())),
    ])
    pq.write_table(z, path)
    return path


def _sinks():
    """name -> (make(target), serve(spark, sink), table, from-scratch SQL)."""
    from vcf_pg_loader_spark.operators.rollup import rollup_final_counted
    from vcf_pg_loader_spark.queries import pipeline as P
    from vcf_pg_loader_spark.streaming.retract import DedupClusterMaintSink
    from vcf_pg_loader_spark.streaming.sink import CountedRollupSink

    return {
        "dedup": (
            lambda root: DedupClusterMaintSink(root),
            lambda spark, s: s.keep(spark),
            "documents", P.Q_DEDUP_KEEP_SQL,
        ),
        "rollup": (
            lambda root: CountedRollupSink(root),
            lambda spark, s: rollup_final_counted(s.read(spark)),
            "events", ROLLUP_ORACLE,
        ),
    }


def _recompute_op(run: Run, name: str, fn, data_dir: str):
    """One from-scratch query op: the query function (build) plus a
    write of every column of its frame to the noop sink (execute), so
    Catalyst cannot prune columns as it would for a `.count()`.
    Returns the frame, or None if the op failed."""
    def build_and_execute():
        with run.tr.span("query.build", query=name):
            df = fn(run.spark, data_dir)
        with run.tr.span("exec", query=name):
            df.write.format("noop").mode("overwrite").save()
        return df

    _ok, df = run.op("query", build_and_execute, query=name)
    run.spark.catalog.clearCache()
    return df


def incremental_maint(run: Run) -> dict:
    from vcf_pg_loader_spark.queries import all_oracles, all_queries

    sinks = _sinks()
    queries = all_queries()
    tables = {
        "documents": pa.table(gen.make_documents(run.seed, MAINT_DOCS)).select(["doc_id", "text"]),
        "events": pa.table(gen.make_events(run.seed, MAINT_EVENTS)),
    }
    id_cols = {"documents": "doc_id", "events": "event_id"}
    final_dir = os.path.join(run.run_dir, "final")
    with run.tr.span("warmup"):
        os.makedirs(final_dir)
        plans, files, final = {}, {}, {}
        for stream, (t, table) in enumerate(tables.items()):
            n = table.num_rows
            n_batches, n_ins, n_del = MAINT_BATCHES[t]
            plans[t] = gen.make_zset_plan(
                run.seed, stream, list(range(n)), n_batches,
                boot_frac=MAINT_BOOT_FRAC, ins_per_batch=n_ins, del_per_batch=n_del,
            )
            files[t] = [
                _zset_file(table, id_cols[t], step,
                           os.path.join(run.run_dir, f"{t}_batch{i}.parquet"))
                for i, step in enumerate(plans[t])
            ]
            # the rows retained after the last batch: what the recomputes
            # read and what every answer is checked against
            present = pa.array(plans[t][-1]["present"], pa.int64())
            final[t] = table.filter(pc.is_in(table[id_cols[t]], present))
            pq.write_table(final[t], os.path.join(final_dir, f"{t}.parquet"))
        order = gen.query_order(run.seed, RECOMPUTE, 64)
    stats = {name: {"bootstrap": [], "rewritten": [], "linked": [], "ratio": []}
             for name in MAINT_SINKS}
    served, frames = {}, {}

    # every sink bootstraps first; then each sink's batches are spread
    # evenly over the round, so samples of a sink's op time are not all
    # taken in one stretch of the run
    steps = [(0.0, name, 0) for name in MAINT_SINKS] + sorted(
        (i / (len(files[sinks[name][2]])), name, i)
        for name in MAINT_SINKS for i in range(1, len(files[sinks[name][2]]))
    )

    def one_round(k):
        state = os.path.join(run.run_dir, f"state{k}")
        live = {name: sinks[name][0](os.path.join(state, name)) for name in MAINT_SINKS}
        for _when, name, i in steps:
            sink, path, st = live[name], files[sinks[name][2]][i], stats[name]
            batch = run.spark.read.parquet(path)
            if i == 0:
                run.op("maint.bootstrap", lambda b=batch, s=sink: s.apply_batch(b, 0),
                       timed=False, sink=name)
                st["bootstrap"].append(run.tr.named("maint.bootstrap")[-1])
                continue
            before = _tree_files(sink.target)
            ok, _ = run.op("maint.apply", lambda b=batch, s=sink, i=i: s.apply_batch(b, i),
                           sink=name, batch=i)
            if not ok:
                continue
            after = _tree_files(sink.target)
            st["rewritten"].append(sum(sz for ino, sz in after.items() if ino not in before))
            st["linked"].append(sum(sz for ino, sz in after.items() if ino in before))
            st["ratio"].append(st["rewritten"][-1] / os.path.getsize(path))
        for name in MAINT_SINKS:
            ok, served[name] = run.op(
                "maint.serve", lambda s=live[name]: sinks[name][1](run.spark, s).toPandas(),
                timed=False, sink=name,
            )
        shutil.rmtree(state, ignore_errors=True)
        for q in order[k % len(order)]:
            frames[q] = _recompute_op(run, q, queries[q], final_dir)

    run.rounds(one_round)
    # each sink's served answer, and each recompute's full result, against
    # DuckDB's from-scratch computation over the final retained rows
    con = duckdb.connect()
    for t, table in final.items():
        con.register(t, table)
    for name in MAINT_SINKS:
        if served[name] is not None:
            why = same_rows(served[name], con.execute(sinks[name][3]).df())
            if why:
                run.mark_wrong(f"maint {name}", why,
                               len(run.round_spans) * MAINT_BATCHES[sinks[name][2]][0])
    # the frame the last round's op built, executed again in full (its
    # driver-side build is not repeated)
    oracles = all_oracles()
    for q, df in frames.items():
        if df is None:
            continue  # the op failed and is counted already
        try:
            why = same_rows(df.toPandas(), con.execute(oracles[q]).df())
        except Exception as e:  # noqa: BLE001 - reported as a wrong answer
            traceback.print_exc(file=sys.stderr)
            why = f"error {type(e).__name__}"
        if why:
            run.mark_wrong(q, why, len(run.round_spans))
    con.close()
    return {"maint": stats}


WORKLOADS = {
    "vcf_ingest": vcf_ingest,
    "incremental_maint": incremental_maint,
}


# ---------------------------------------------------------------------------
# one run: session, tracing, metrics
# ---------------------------------------------------------------------------
def _rss_mb(pid) -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _jvm_pid(spark):
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return getattr(proc, "pid", None)


class _DedupSpans:
    """Spans around the dedup operators' public entry points, installed
    on the module so every caller in the program goes through them."""

    def __init__(self, tracer: Tracer):
        from vcf_pg_loader_spark.operators import dedup as D

        self.D, self.tr = D, tracer
        self.orig = {n: getattr(D, n) for n in ("minhash_lsh_dedup", "connected_components")}
        lsh, cc = self.orig["minhash_lsh_dedup"], self.orig["connected_components"]

        def minhash_lsh_dedup(*a, **kw):
            with tracer.span("dedup.lsh"):
                return lsh(*a, **kw)

        def connected_components(*a, stats=None, **kw):
            stats = {} if stats is None else stats
            with tracer.span("dedup.cc") as sp:
                out = cc(*a, stats=stats, **kw)
            sp.attrs.update(stats)
            return out

        D.minhash_lsh_dedup = minhash_lsh_dedup
        D.connected_components = connected_components

    def close(self):
        for n, f in self.orig.items():
            setattr(self.D, n, f)


def run(workload: str, *, seed: int, seconds: float, traced: bool, run_dir: str,
        t0: float) -> dict:
    """One run of `workload`; returns the result line's fields plus a
    `detail` dict printed beside it."""
    from vcf_pg_loader_spark.session import get_spark

    tracer = Tracer(run_id=f"{workload}-{seed}")
    event_dir = os.path.join(run_dir, "eventlog")
    conf = {"spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir}"}
    if traced:
        os.makedirs(event_dir)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    with tracer.span("session.start"):
        spark = get_spark(app_name=f"perfbench-{workload}", extra_conf=conf)
    hooks = None
    try:
        if traced:
            tracer.sc = spark.sparkContext
            hooks = _DedupSpans(tracer)
        r = Run(spark, seed, seconds, run_dir, tracer, t0)
        facts = WORKLOADS[workload](r)
        peak_rss = _rss_mb("self") + _rss_mb(_jvm_pid(spark))
        fs_facts = _store_facts(facts) if traced else {}
    finally:
        if hooks is not None:
            hooks.close()
        spark.stop()
    if not r.op_times:
        raise RuntimeError(f"no {workload} op succeeded; nothing to measure")
    wall_s = median([s.dur for s in r.round_spans])
    tail_v, tail_pct, n_ops = tail(r.op_times)
    detail = {
        "workload": workload, "seed": seed, "rounds": len(r.round_spans), "wall_s": wall_s,
        "op_count": n_ops, "op_p50_s": median(r.op_times), "op_tail_s": tail_v,
        "op_tail_pct": round(tail_pct, 2),
        "failed_frac": r.failed / max(1, r.attempted), "wrong": r.wrong,
        "ingest_variants_per_s": facts.get("ingest_variants_per_s"),
        "state_build_s": _state_build_s(facts),
    }
    if traced:
        spans_dir = os.path.join(os.path.dirname(run_dir), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        tracer.write(os.path.join(spans_dir, f"{workload}-{seed}.jsonl"))
        log = parse_event_log(find_event_log(event_dir))
        metrics = per_layer(tracer, log, r, facts, fs_facts)
        metrics.update({
            "driver.peak_rss_mb": peak_rss,
            "trace.overhead_s": tracer.overhead_s,
            "op.count": n_ops,
            "op.p50_s": median(r.op_times),
            "op.tail_s": tail_v,
            "op.tail_pct": tail_pct,
        })
    else:
        metrics = {"setup_s": r.setup_s, "wall_s": wall_s}
    return {
        "correct": not r.wrong and r.failed == 0,
        "attempted": max(1, r.attempted),
        "failed": r.failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
        "detail": detail,
    }


def _state_build_s(facts: dict) -> float | None:
    """Bootstrap time summed over the sinks, median over rounds."""
    maint = facts.get("maint")
    if not maint:
        return None
    per_round = [sum(durs) for durs in zip(*(
        [sp.dur for sp in st["bootstrap"]] for st in maint.values()))]
    return median(per_round)


def unit(name: str) -> str:
    if name.endswith("bytes_per_variant"):
        return "bytes/variant"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_pct"):
        return "%"
    if "ratio" in name or "_per_" in name:
        return "ratio"
    return "count"


def _store_facts(facts: dict) -> dict:
    """Store layout facts read from the filesystem while it exists."""
    store = facts.get("store")
    if store is None:
        return {}
    size = sum(_tree_files(store.variants_path).values())
    index_files = sum(
        f.endswith(".parquet") for _r, _d, fs in os.walk(store.rsid_index_path) for f in fs
    )
    return {
        "store.bytes_per_variant": size / facts["n_rows"],
        "store.files_written": store.file_count() + index_files,
    }


PER_LAYER = (
    ["session.start_s", "session.warmup_s", "driver.peak_rss_mb",
     "vcf.parse_s", "vcf.rows_per_variant", "vcf.scan_tasks",
     "store.load_s", "store.load_jobs", "store.bytes_per_variant", "store.files_written",
     "store.rsid_index_s", "store.lookup_s", "store.lookup_files_read",
     "ingest.variants_per_s",
     "query.build_s", "query.build_self_s", "query.build_jobs", "query.build_stages",
     "exec.exec_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s",
     "exec.scan_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
     "exec.spill_bytes",
     "dedup.lsh_s", "dedup.lsh_jobs", "dedup.cc_s", "dedup.cc_edges", "dedup.cc_rounds",
     "maint.state_build_s", "maint.apply_self_s"]
    + [f"maint.{sink}.{m}" for sink in MAINT_SINKS for m in (
        "bootstrap_s", "apply_s", "apply_jobs", "bytes_rewritten", "bytes_linked",
        "rewrite_ratio", "serve_s")]
    + ["trace.overhead_s", "op.count", "op.p50_s", "op.tail_s", "op.tail_pct"]
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _med(xs) -> float:
    xs = list(xs)
    return median(xs) if xs else 0.0


def per_layer(tr: Tracer, log, r: Run, facts: dict, fs_facts: dict) -> dict:
    """Per-layer metrics of the timed rounds (warm-up excluded): times
    are medians per call, counts are means per call, and a layer the
    workload does not use reports 0."""
    timed = {s.id for rs in r.round_spans for s in descendants(tr.spans, rs.id)}
    own = self_times(tr.spans)

    def calls(name, **match):
        return [s for s in tr.named(name) if s.id in timed
                and all(s.attrs.get(k) == v for k, v in match.items())]

    def stats(spans):
        return [span_stats(tr.spans, log, s.id) for s in spans]

    out = {k: 0.0 for k in PER_LAYER}
    out["session.start_s"] = tr.named("session.start")[0].dur
    out["session.warmup_s"] = _med(s.dur for s in tr.named("warmup"))
    out.update(fs_facts)

    loads = calls("store.load")
    if loads:
        groups = [{s.group for s in descendants(tr.spans, sp.id)} for sp in loads]
        text = [[st for st in log.stages if st[0] in g and "text" in st[1]] for g in groups]
        out["vcf.parse_s"] = _med(sum(st[2] for st in ts) for ts in text)
        out["vcf.scan_tasks"] = _mean(sum(st[3] for st in ts) for ts in text)
        out["vcf.rows_per_variant"] = facts["n_rows"] / facts["n_records"]
        out["store.load_s"] = _med(s.dur for s in loads)
        out["store.load_jobs"] = _mean(g.jobs for g in stats(loads))
        out["store.rsid_index_s"] = _med(s.dur for s in calls("store.rsid_index"))
        out["ingest.variants_per_s"] = facts["ingest_variants_per_s"]
    lookups = calls("store.lookup")
    if lookups:
        out["store.lookup_s"] = _med(s.dur for s in lookups)
        out["store.lookup_files_read"] = _mean(log.files_read.get(s.group, 0) for s in lookups)

    builds = calls("query.build")
    if builds:
        bs = stats(builds)
        out["query.build_s"] = _med(s.dur for s in builds)
        out["query.build_self_s"] = _med(own[s.id] for s in builds)
        out["query.build_jobs"] = _mean(g.jobs for g in bs)
        out["query.build_stages"] = _mean(g.stages for g in bs)
    execs = calls("exec")
    if execs:
        es = stats(execs)
        out["exec.exec_s"] = _med(s.dur for s in execs)
        for f in ("jobs", "stages", "tasks", "task_cpu_s", "scan_bytes",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            out[f"exec.{f}"] = _mean(getattr(g, f) for g in es)

    lsh, cc = calls("dedup.lsh"), calls("dedup.cc")
    if lsh:
        out["dedup.lsh_s"] = _med(s.dur for s in lsh)
        out["dedup.lsh_jobs"] = _mean(g.jobs for g in stats(lsh))
    if cc:
        out["dedup.cc_s"] = _med(s.dur for s in cc)
        out["dedup.cc_edges"] = _mean(s.attrs.get("cc_edges", 0) for s in cc)
        out["dedup.cc_rounds"] = _mean(s.attrs.get("cc_rounds", 0) for s in cc)

    maint = facts.get("maint")
    if maint:
        out["maint.state_build_s"] = _state_build_s(facts)
        out["maint.apply_self_s"] = _med(own[s.id] for s in calls("maint.apply"))
        for sink, st in maint.items():
            applies = calls("maint.apply", sink=sink)
            p = f"maint.{sink}."
            out[p + "bootstrap_s"] = _med(sp.dur for sp in st["bootstrap"])
            out[p + "apply_s"] = _med(s.dur for s in applies)
            out[p + "apply_jobs"] = _mean(g.jobs for g in stats(applies))
            out[p + "bytes_rewritten"] = _mean(st["rewritten"])
            out[p + "bytes_linked"] = _mean(st["linked"])
            out[p + "rewrite_ratio"] = _mean(st["ratio"])
            out[p + "serve_s"] = _med(s.dur for s in calls("maint.serve", sink=sink))
    return out
