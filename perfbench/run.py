#!/usr/bin/env python3
"""hdtspark benchmark: one seeded, answer-checked run of one workload.

    python3 perfbench/run.py --workload synth --seed 1 --seconds 5 --trace 0

Run from the repository root.  A run starts its own Spark driver on
local[4], builds its inputs from ``--seed``, measures the workload, checks
every answer against expected answers computed without hdtspark's
dict_builder, encode, query and sparql modules (workloads.py), and prints
as its last line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
runs the same workload with spans, job groups and Spark's event log and
reports the per-layer metrics.  The metric list is BENCHMARK.json; their
meaning is perfbench/README.md.

All files a run writes live under ``.perfbench/`` in the repository root
and are removed when it ends, except the result record kept in
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

CORES = 4
DRIVER_MEM = "3g"        # the host has 15 GB shared by every process on it
SETUPS = 3               # input preparations per run; setup_s uses their median
DEFAULT_SEED = 1         # the seed whose inputs perfbench/pins.json pins
LAYERS = ["extract", "sources", "dict_builder", "encode", "bitmap_triples",
          "pipeline", "query", "sparql", "checkpoint", "export", "hdt_binary"]
# Layers whose spill is always zero at these sizes (no aggregation or sort
# of their own) report no spill_bytes.
NO_SPILL = {"extract", "sources", "query", "sparql", "export", "hdt_binary"}
CRASH_LOST = ["ops", "pso", "adj", "metrics"]   # stage dirs after spo


class Ledger:
    """Operations attempted, operations that failed, and wrong answers."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(self, name: str, fn):
        """Run one operation; an exception counts as a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 - a failed operation is a result
            self.failed += 1
            self.problems.append(f"{name}: {type(e).__name__}: {e}")
            return None

    def check(self, name: str, got, want) -> None:
        """Count a wrong answer as a failed operation."""
        if got != want:
            self.failed += 1
            self.problems.append(f"{name}: got {got!r}, expected {want!r}")

    @property
    def failed_ratio(self) -> float:
        return self.failed / max(self.attempted, 1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# --- Spark session ---------------------------------------------------------

def start_spark(scratch: Path, traced: bool):
    """The benchmark's session: hdtspark's own factory with the host
    settings pinned, and everything it writes kept under ``scratch``."""
    local, tmp = scratch / "local", scratch / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "HDTSPARK_DRIVER_MEM": DRIVER_MEM,
        "HDTSPARK_LOCAL_DIR": str(local),
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # both the launcher JVM and the driver JVM: temp files in scratch,
        # and no hsperfdata file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(scratch / "spark-warehouse"),
    }
    if traced:
        (scratch / "eventlog").mkdir()
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": (scratch / "eventlog").as_uri(),
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    from hdtspark.session import get_spark

    return get_spark(app_name="hdtspark-perfbench", master=f"local[{CORES}]",
                     shuffle_partitions=CORES, extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait until the driver JVM has exited."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def environment(spark, args) -> dict:
    def cmd(*argv):
        try:
            return subprocess.run(argv, capture_output=True, text=True,
                                  timeout=30, cwd=ROOT).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            return ""

    java = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    return {"nproc": os.cpu_count(), "master": f"local[{CORES}]",
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark": spark.version, "java": java,
            "python": platform.python_version(),
            "git_commit": cmd("git", "rev-parse", "HEAD") or "unknown",
            "driver_mem": DRIVER_MEM, "seed": args.seed,
            "workload": args.workload, "seconds": args.seconds,
            "traced": bool(args.trace)}


# --- workloads -------------------------------------------------------------

class Synth:
    """Transcripts from hdtspark.synth, built durably by
    hdtspark.checkpoint (extract runs in its triples_str stage); in the
    traced run, then crashed after spo and resumed."""

    name = "synth"
    durable = True

    def __init__(self, spark, scratch: Path):
        import workloads as wl

        self.spark, self.scratch, self.wl = spark, scratch, wl
        self.vocab = wl.SYNTH_VOCAB

    def prepare(self, seed: int):
        from hdtspark import synth

        t = synth.transcripts_df(self.spark, seed=seed,
                                 n_conv=self.wl.SYNTH_N_CONV).cache()
        t.count()
        return t

    def release(self, inp) -> None:
        inp.unpersist()

    def expected(self, seed: int):
        return self.wl.synth_graph(seed, self.wl.SYNTH_N_CONV)[0]

    def ingest(self, inp):
        from hdtspark import extract

        return extract.extract_triples(inp)


class SkewedNT:
    """A seeded N-Triples file -> sources.read_nt -> KG (no extract)."""

    name = "skewed_nt"
    durable = False

    def __init__(self, spark, scratch: Path):
        import workloads as wl

        self.spark, self.scratch, self.wl = spark, scratch, wl
        self.vocab = wl.NT_VOCAB
        self.lines = 0
        self.graphs: dict = {}    # seed -> the graph prepare wrote

    def prepare(self, seed: int):
        data, self.graphs[seed], self.lines = self.wl.skewed_nt(seed, self.wl.NT_NODES)
        path = self.scratch / f"input-{seed}.nt"
        path.write_bytes(data)
        return str(path)

    def release(self, inp) -> None:
        os.remove(inp)

    def expected(self, seed: int):
        """The graph the generator wrote (it knows every triple)."""
        if seed not in self.graphs:
            self.prepare(seed)
        return self.graphs[seed]

    def build(self, inp):
        from hdtspark import pipeline

        return pipeline.build_kg_from_triples(self.ingest(inp))

    def ingest(self, inp):
        from hdtspark import sources

        return sources.read_nt(self.spark, inp)


WORKLOADS = {"synth": Synth, "skewed_nt": SkewedNT}


# --- phases ----------------------------------------------------------------
#
# Every phase takes a Tracer.  Untraced runs pass Tracer(None), whose spans
# only keep time; the traced run's spans also tag Spark jobs.

def build_phase(w, inp, g, ledger: Ledger, tracer, label: str):
    """One in-memory build to a fully materialized KG, checked against the
    expected graph ``g``.  Returns (KG or None, wall)."""
    from hdtspark import pipeline

    def one():
        k = w.build(inp)
        return k, pipeline.materialize(k)

    with tracer.span("pipeline", "build") as sp:
        res = ledger.op(f"{label} build", one)
    if res is None:
        return None, sp.wall
    kg, n = res
    ledger.check(f"{label} build triples", n, len(g.triples))
    return kg, sp.wall


def run_query(kg, op) -> int:
    """Issue one operation and return its result count."""
    from hdtspark import query, sparql

    if op.sparql is not None:
        return sparql.query(kg, op.sparql).count()
    return query.triples_with_pattern(kg, s=op.s, p=op.p, o=op.o).count()


def query_phase(w, kg, g, ledger: Ledger, tracer, seed: int, seconds: float,
                label: str, n_ops: int | None = None) -> tuple[list, float]:
    """Closed loop, one client: each operation is issued when the previous
    one has returned.  Runs whole cycles (workloads.query_cycle), so the mix
    is exact, until ``seconds`` have passed (at least one cycle), or exactly
    ``n_ops`` operations.  The operations are a function of ``seed`` alone,
    so two calls replay the same ones.  Returns (op spans, loop wall)."""
    import workloads as wl

    rng = random.Random(f"queries:{seed}")
    pools = wl.template_pools(g, w.vocab)
    ops: list = []
    t0 = time.monotonic()
    cycle = 0

    def done() -> bool:
        if n_ops is not None:
            return len(ops) >= n_ops
        return cycle > 0 and time.monotonic() - t0 >= seconds

    while not done():
        for op in wl.query_cycle(g, w.vocab, rng, pools):
            ops.append(query_op(kg, op, ledger, tracer, label))
        cycle += 1
    total = time.monotonic() - t0
    if kg._str_enum is not None:
        ledger.check(f"{label} query mix built KG.str_enum", True, False)
    return ops, total


def query_op(kg, op, ledger: Ledger, tracer, label: str):
    from hdtspark import query, sparql_parser

    name = f"{label} {op.kind} {op.sparql or (op.s, op.p, op.o)}"
    layer = "sparql" if op.sparql is not None else "query"
    with tracer.span(layer, op.kind) as sp:
        if op.sparql is not None and tracer.sc is not None:
            with tracer.span("sparql", "parse"):
                sparql_parser.parse(op.sparql)
        got = ledger.op(name, lambda: run_query(kg, op))
    if got is not None:
        ledger.check(name, got, op.expected)
    if tracer.sc is not None and op.sparql is None and op.kind != "missing":
        # The ID route taken apart: constant lookup and pruned projection
        # scan, then translation of the result rows to strings.
        with tracer.span("query", "id_path"):
            ids = query.triple_ids_with_pattern(kg, op.s, op.p, op.o).cache()
            ids.count()
        with tracer.span("query", "translate"):
            query.ids_to_strings(kg, ids).count()
        ids.unpersist()
    return sp


def warm_up_queries(w, kg, g, ledger: Ledger, tracer, seed: int) -> None:
    """One query cycle with other constants than the measured one."""
    import workloads as wl

    rng = random.Random(f"queries:{seed + wl.WARM_SEED_OFFSET}")
    for op in wl.query_cycle(g, w.vocab, rng, wl.template_pools(g, w.vocab)):
        query_op(kg, op, ledger, tracer, "warm-up")


def dir_size(path: Path) -> tuple[int, int]:
    files = [p for p in Path(path).rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


def content_fp(df) -> tuple:
    """Row count and two order-insensitive hash aggregates, computed here
    rather than by hdtspark.checkpoint so the check does not trust the
    code it checks."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns])
    r = df.agg(F.count("*").alias("n"), F.bit_xor(h).alias("x"),
               F.sum(h.cast("decimal(38,0)")).alias("s")).first()
    return (r["n"], r["x"], str(r["s"]))


def durable_phase(spark, inp, g, ledger: Ledger, tracer, wh: Path, label: str,
                  resume: bool):
    """Durable build into an empty warehouse; with ``resume``, a simulated
    crash that loses every stage after spo, and the resume.  Returns (the
    last KG, figures)."""
    from hdtspark import checkpoint

    out: dict = {}
    shutil.rmtree(wh, ignore_errors=True)
    with tracer.span("checkpoint", "build") as sp:
        res = ledger.op(f"{label} durable build",
                        lambda: checkpoint.materialize_kg(spark, inp, str(wh)))
    out["build_s"] = sp.wall
    if res is None:
        return None, out
    kg, mat = res
    ledger.check(f"{label} durable triples", kg.spo.count(), len(g.triples))
    out["bytes"], out["files"] = dir_size(wh)
    out["spo_wall_ms"] = mat.read_manifest("spo")["wall_ms"]
    if not resume:
        return kg, out
    before = {t: content_fp(mat.read_table(t)) for t in ("spo", "ops")}
    kg.unpersist()
    for stage in CRASH_LOST:
        shutil.rmtree(wh / stage)
    with tracer.span("checkpoint", "resume") as sp:
        res = ledger.op(f"{label} resume",
                        lambda: checkpoint.materialize_kg(spark, inp, str(wh)))
    out["resume_s"] = sp.wall
    if res is None:
        return None, out
    kg, mat = res
    skipped = sorted(r.name for r in mat.results if r.skipped)
    out["skipped_ratio"] = len(skipped) / len(mat.results)
    ledger.check(f"{label} stages skipped on resume", skipped,
                 ["dict", "spo", "triples_str"])
    for t, fp in before.items():
        ledger.check(f"{label} resumed {t} fingerprint",
                     content_fp(mat.read_table(t)), fp)
    if tracer.sc is not None:
        cols = [c for c in ("conv_id", "turn_idx", "role", "text", "tool", "ts")
                if c in inp.columns]
        with tracer.span("checkpoint", "fingerprint") as sp:
            checkpoint.fingerprint(inp, cols)
        out["fingerprint_s"] = sp.wall
    return kg, out


def hdt_header_triples(path: Path) -> int:
    """The triple count in an HDT file's header, read without hdtspark."""
    head = path.read_bytes()[:1 << 16].decode("utf-8", "replace")
    m = re.search(r'#triplesnumTriples> "(\d+)"', head)
    if m is None:
        raise ValueError("no triple count in the HDT header")
    return int(m.group(1))


def export_phase(spark, kg, g, ledger: Ledger, tracer, out_dir: Path,
                 label: str) -> dict:
    """N-Triples and HDT export of ``kg``; both outputs are checked and
    removed.  Returns the walls and the sizes."""
    from hdtspark import export, hdt_binary

    out: dict = {}
    n = len(g.triples)
    nt, hdt = out_dir / "export.nt", out_dir / "export.hdt"
    if tracer.sc is not None:
        with tracer.span("export", "str_enum") as sp:
            kg.str_enum().count()
        out["str_enum_s"] = sp.wall
    with tracer.span("export", "write_nt") as sp:
        ledger.op(f"{label} write_nt", lambda: export.write_nt(kg, str(nt)))
    out["nt_s"] = sp.wall
    with tracer.span("hdt_binary", "write_hdt_file") as sp:
        ledger.op(f"{label} write_hdt_file",
                  lambda: hdt_binary.write_hdt_file(kg, str(hdt)))
    out["hdt_s"] = sp.wall
    if nt.exists():
        ledger.check(f"{label} NT lines", sum(
            f.read_bytes().count(b"\n") for f in nt.glob("part-*")), n)
        out["nt_bytes"] = dir_size(nt)[0]
        shutil.rmtree(nt)
    if hdt.exists():
        ledger.check(f"{label} HDT header triples", hdt_header_triples(hdt), n)
        out["hdt_bytes"] = hdt.stat().st_size
        hdt.unlink()
    return out


def attribution_build(w, inp, tracer, ledger: Ledger, g) -> tuple[dict, list]:
    """The build taken apart layer by layer, each layer's lazy output forced
    inside its own span (persist + count, or a noop write), the way
    bench_extra.attribute_build does.  Returns (counts, the layer spans)."""
    from pyspark import StorageLevel
    from pyspark.sql import Observation, functions as F

    from hdtspark import bitmap_triples, encode
    from hdtspark.dict_builder import build_dict

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    out: dict = {}
    first = len(tracer.spans)
    with tracer.span("extract" if w.name == "synth" else "sources", "ingest"):
        tri = w.ingest(inp).persist(StorageLevel.DISK_ONLY)
        out["raw"] = tri.count()
    ledger.check("traced raw triples", out["raw"], g.raw)
    with tracer.span("dict_builder", "build_dict"):
        d = build_dict(tri)
        d.ids.count()
    out["terms"] = d.n_shared + d.n_subjects + d.n_predicates + d.n_objects
    with tracer.span("encode", "hash_check"):
        encode.hashes_injective(d)
    deps: list = []
    with tracer.span("encode", "spo"):
        spo = encode.encode_triples(tri, d, deps_out=deps).cache()
        out["spo_rows"] = spo.count()
    ledger.check("traced spo rows", out["spo_rows"], len(g.triples))
    bits = encode.dict_bits(d)
    with tracer.span("encode", "ops"):
        noop(encode.ops_projection(spo, bits=bits))
    with tracer.span("encode", "pso"):
        noop(encode.pso_projection(spo, bits=bits))
    obs = Observation("adjacency_rows")
    with tracer.span("bitmap_triples", "adjacency"):
        salt = bitmap_triples.salt_buckets_for(d.max_raw_subj_degree)
        noop(bitmap_triples.adjacency(spo, salt_buckets=salt, bits=bits)
             .observe(obs, F.count("*").alias("n")))
    out["adj_rows"] = obs.get["n"]
    for df in (tri, spo, *deps):
        df.unpersist()
    d.unpersist()
    return out, tracer.spans[first:]


def build(w, spark, inp, g, ledger: Ledger, tracer, scratch: Path, label: str):
    """The workload's build: ``synth`` builds durably, and in the traced
    run crashes and resumes; ``skewed_nt`` builds in memory.  Returns (KG,
    build wall, durable figures)."""
    if w.durable:
        kg, dur = durable_phase(spark, inp, g, ledger, tracer,
                                scratch / "warehouse", label,
                                resume=tracer.sc is not None)
        return kg, dur["build_s"], dur
    kg, wall = build_phase(w, inp, g, ledger, tracer, label)
    return kg, wall, {}


# --- one run ---------------------------------------------------------------

def p50_ms(spans) -> float:
    return 1000 * median([s.wall for s in spans])


def run(args, scratch: Path) -> tuple[dict, Ledger, dict]:
    """Set up, measure and check one workload.  Returns (metrics, ledger,
    the result record)."""
    import pins
    import workloads as wl
    from spans import Tracer

    pins.check(args.workload, args.seed, DEFAULT_SEED)
    traced = bool(args.trace)
    ledger = Ledger()
    plain = Tracer(None)
    os.sync()   # no writeback left over from an earlier run during this one
    t0 = time.monotonic()
    spark = start_spark(scratch, traced)
    session_s = time.monotonic() - t0
    try:
        env = environment(spark, args)
        w = WORKLOADS[args.workload](spark, scratch)

        gen = []
        for i in range(SETUPS):
            t0 = time.monotonic()
            inp = w.prepare(args.seed)
            gen.append(time.monotonic() - t0)
            if i < SETUPS - 1:
                w.release(inp)
        g = w.expected(args.seed)      # not part of set-up time
        n = len(g.triples)

        # The traced run runs the same phases as an untraced run, with
        # spans, then takes the build apart layer by layer.
        tracer = Tracer(spark.sparkContext) if traced else plain
        kg, build_s, dur = build(w, spark, inp, g, ledger, tracer, scratch, "measured")
        if kg is None:
            raise RuntimeError("the build failed: " + "; ".join(ledger.problems))
        # Warm-up, part of set-up: the first query cycle after a build runs
        # 10 to 70% slower than the next one, and its spread across runs is
        # three times as wide.
        t0 = time.monotonic()
        warm_up_queries(w, kg, g, ledger, plain, args.seed)
        warm_s = time.monotonic() - t0
        ops, qwall = query_phase(w, kg, g, ledger, tracer, args.seed,
                                 args.seconds, "measured")
        m = {"build_s": build_s,
             "triples_per_s": n / build_s,
             "query_p50_ms": p50_ms(ops),
             "queries_per_s": len(ops) / qwall}
        # Warm-up, part of set-up: the first export runs 20 to 70% slower
        # than the next one.  KG.str_enum is dropped in between, so the
        # measured export does all the work the first one did.
        t0 = time.monotonic()
        warm_exp = export_phase(spark, kg, g, ledger, plain, scratch, "warm-up")
        if kg._str_enum is not None:
            kg._str_enum.unpersist(True)
            kg._str_enum = None
        warm_s += time.monotonic() - t0
        exp = export_phase(spark, kg, g, ledger, tracer, scratch, "measured")
        m["export_s"] = exp["nt_s"] + exp["hdt_s"]
        m["setup_s"] = session_s + median(gen) + warm_s
        m["hdt_bytes_per_triple"] = exp.get("hdt_bytes", 0) / n
        if traced:
            kg.unpersist()
            att, att_spans = attribution_build(w, inp, tracer, ledger, g)
        peak_rss_mb = jvm_peak_rss_mb(spark)
    finally:
        stop_spark(spark)

    record = {"env": env, "failed_ratio": ledger.failed_ratio,
              "problems": ledger.problems[:20], "end_to_end": m,
              "session_s": session_s,
              "generate_walls_s": gen, "peak_rss_mb": peak_rss_mb,
              "query_ops_ms": [[s.name, 1000 * s.wall] for s in ops],
              "durable": dur, "export": exp, "warm_up_s": warm_s,
              "warm_up_export": warm_exp,
              "input_triples": n}
    if not traced:
        return m, ledger, record

    from spans import fold_event_log, layer_metrics, span_jobs

    lines = [line for f in sorted((scratch / "eventlog").iterdir())
             for line in f.read_text().splitlines() if line]
    jobs = fold_event_log(lines)
    per = layer_metrics(tracer.spans, jobs, LAYERS)
    for layer in NO_SPILL:
        del per[f"{layer}.spill_bytes"]
    sj = span_jobs(tracer.spans, jobs)

    def top(layer, name=None):
        return [s for s in tracer.spans if s.layer == layer and s.parent is None
                and (name is None or s.name == name)]

    qops = [s for s in ops if s.layer == "query"]
    sops = [s for s in ops if s.layer == "sparql"]
    pipe = top("pipeline")[-1] if not w.durable else None
    per.update({
        "session.start_s": session_s,
        "session.peak_rss_mb": peak_rss_mb,
        "synth.generate_s": median(gen),
        "extract.rows_out": att["raw"] if w.name == "synth" else 0,
        "sources.rows_out": att["raw"] if w.name == "skewed_nt" else 0,
        "sources.dropped_lines": w.lines - att["raw"] if w.name == "skewed_nt" else 0,
        "dict_builder.terms": att["terms"],
        "encode.hash_check_s": sum(tracer.walls("encode", "hash_check")),
        "encode.spo_s": sum(tracer.walls("encode", "spo")),
        "encode.ops_s": sum(tracer.walls("encode", "ops")),
        "encode.pso_s": sum(tracer.walls("encode", "pso")),
        "encode.rows_out": att["spo_rows"],
        "encode.dedup_ratio": att["spo_rows"] / att["raw"],
        "bitmap_triples.rows_out": att["adj_rows"],
        "pipeline.jobs": sj[pipe.id][0] if pipe else 0,
        "pipeline.stages": sj[pipe.id][1] if pipe else 0,
        "pipeline.barrier_gap_s": sum(s.wall for s in att_spans) - pipe.wall if pipe else 0.0,
        "query.id_path.p50_ms": p50_ms(top("query", "id_path")),
        "query.translate.p50_ms": p50_ms(top("query", "translate")),
        "query.jobs_per_query": sum(sj[s.id][0] for s in qops) / max(len(qops), 1),
        "sparql.parse_ms": 1000 * median(tracer.walls("sparql", "parse")),
        "sparql.p50_ms": p50_ms(sops),
        "sparql.jobs_per_query": sum(sj[s.id][0] for s in sops) / max(len(sops), 1),
        "checkpoint.build_s": dur.get("build_s", 0.0),
        "checkpoint.resume_s": dur.get("resume_s", 0.0),
        "checkpoint.fingerprint_s": dur.get("fingerprint_s", 0.0),
        "checkpoint.spo_wall_ms": dur.get("spo_wall_ms", 0),
        "checkpoint.bytes_written": dur.get("bytes", 0),
        "checkpoint.files_written": dur.get("files", 0),
        "checkpoint.bytes_per_triple": dur.get("bytes", 0) / n,
        "checkpoint.stages_skipped_ratio": dur.get("skipped_ratio", 0.0),
        "export.str_enum_s": exp.get("str_enum_s", 0.0),
        "export.nt_bytes": exp.get("nt_bytes", 0),
        "hdt_binary.rows_per_s": n / exp["hdt_s"],
        "trace.build_s": m["build_s"],
        "trace.query_p50_ms": m["query_p50_ms"],
    })
    for shape in wl.SHAPES + ["missing"]:
        per[f"query.shape_{shape}.p50_ms"] = p50_ms([s for s in qops if s.name == shape])
    record.update({"per_layer": per, "spans": tracer.dump(),
                   "jobs": len(jobs)})
    return per, ledger, record


def declared_metrics(traced: bool) -> dict[str, str]:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    return {x["name"]: x["unit"] for x in spec["per_layer" if traced else "end_to_end"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-pins", action="store_true",
                    help="recompute perfbench/pins.json for the default seed")
    args = ap.parse_args(argv)
    if args.write_pins:
        import pins

        pins.write(DEFAULT_SEED)
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    declared = declared_metrics(bool(args.trace))
    # A terminated run still stops its JVM and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = ROOT / ".perfbench" / f"run-{os.getpid()}"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    try:
        metrics, ledger, record = run(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    missing = sorted(set(declared) - set(metrics))
    if missing:
        raise SystemExit(f"metrics not produced: {missing}")
    results = ROOT / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    out = results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    untraced = results / f"{args.workload}-seed{args.seed}-trace0.json"
    if args.trace and untraced.exists():
        base = json.loads(untraced.read_text())["end_to_end"]
        record["tracing_overhead"] = {
            k: record["end_to_end"][k] - base[k] for k in ("build_s", "query_p50_ms")}
    out.write_text(json.dumps(record, indent=1, default=str))
    print("env " + json.dumps(record["env"]))
    if "tracing_overhead" in record:
        print("tracing_overhead (traced - untraced, same seed) "
              + json.dumps(record["tracing_overhead"]))
    print(f"failed_ratio {ledger.failed_ratio:.6f} "
          f"({ledger.failed} of {ledger.attempted} operations)")
    for p in ledger.problems[:20]:
        print("problem " + p)
    print(json.dumps({
        "correct": not ledger.problems,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
