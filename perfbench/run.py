"""KG-build benchmark: one closed-loop client driving the program through
its public functions on a ``local[nproc]`` Spark session.

    python3 perfbench/run.py --workload kg_small --seed 1 --seconds 20 --trace 0

Workloads (see perfbench/README.md for why each exists):
- ``kg_small``: the paper's pipeline run — materialize_graph over
  extract_triples + canonicalize_triples, then entity_salience — on the
  repo's seeded transcript generator.
- ``operators``: one pass over ten library operators on seeded tables.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` turns on Spark's
event log, runs every layer under its own job group and prints the
per-layer metrics. The last stdout line is the JSON result; the line before
it carries the run's details (seed, nproc, versions, Spark conf, samples).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import sys
import time
import traceback
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)  # the program and its oracle live at the root

from perfbench import checks, gen  # noqa: E402
from perfbench import layers as tr  # noqa: E402

OUT_ROOT = os.path.join(HERE, "_out")

# input sizes; "tiny" is the self-test's
SIZES = {
    "full": {"n_convs": 2000, "n_docs": 600, "warmup": 1},
    "tiny": {"n_convs": 40, "n_docs": 120, "warmup": 1},
}

N_BUCKETS = 16
QUANTILES = [0.25, 0.5, 0.75, 1.0]
KG_SPANS = ("manifests.plan", "extraction", "canonicalize.map",
            "canonicalize.rewrite", "manifests.write", "graph.vertices",
            "graph.salience")
OPS = ("minhash_lsh", "near_jaccard", "ann_cosine", "scrub_pii", "triangles",
       "group_quantiles", "tfidf", "chunks", "asof", "cc_brands")


class Bench:
    """One run: arguments, the Spark session, timings and counters."""

    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.size = SIZES[args.size]
        self.nproc = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failed = 0
        self.spark = None
        self.proc = None
        self.details: dict = {}

    # -- session ----------------------------------------------------------

    def start(self):
        local = os.path.join(self.run_dir, "local")
        os.makedirs(local, exist_ok=True)
        # keep every temporary file of Spark, the JVM and Python inside the run
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = local
        # a fixed, modest driver heap: the inputs are small, and the
        # session's 8g default lets G1 grow the JVM to several GB
        os.environ["SPARK_DRIVER_MEM"] = "2g"
        conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local}",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if self.args.trace:
            self.event_dir = os.path.join(self.run_dir, "events")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.event_dir,
            })
        from xwikire_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", master=f"local[{self.nproc}]", extra_conf=conf
        )
        self.sc = self.spark.sparkContext
        self.proc = tr.ProcTree(tr.find_jvm(self.sc._gateway.proc.pid))

    def stop(self):
        """Stop Spark, then the JVM, and wait for its Python workers."""
        if self.spark is None:
            return
        gw = self.sc._gateway
        workers = tr.descendants(gw.proc.pid)
        self.spark.stop()
        gw.shutdown()
        gw.proc.stdin.close()
        try:
            gw.proc.wait(timeout=60)
        except Exception:
            gw.proc.kill()
            gw.proc.wait()
        deadline = time.time() + 30
        while time.time() < deadline and any(
            os.path.exists(f"/proc/{p}") for p in workers[1:]
        ):
            time.sleep(0.1)
        self.spark = None

    def group(self, name: str):
        self.sc.setJobGroup(name, name)

    def write(self, name: str, rows: list[dict]):
        import pandas as pd

        path = os.path.join(self.run_dir, "in", name)
        self.spark.createDataFrame(pd.DataFrame(rows)).write.parquet(path)
        return self.spark.read.parquet(path)

    def cpu_total(self) -> float:
        return sum(self.proc.cpu().values())

    # -- closed loop ------------------------------------------------------

    def loop(self, plain, traced=None) -> tuple[list, list]:
        """Run repetitions back to back within --seconds: a repetition
        starts only if one more of the last one's length still fits, and
        at least one runs (with ``traced``, plain and traced repetitions
        alternate, one of each at least). ``plain()`` runs one timed
        repetition and returns its check, which returns (operations,
        failed operations). Returns ([(wall, cpu)] of the plain
        repetitions, [traced results])."""
        plain_s, traced_r = [], []
        t_end = time.perf_counter() + self.args.seconds
        last = 0.0
        while (not plain_s or (traced and not traced_r)
               or time.perf_counter() + last <= t_end):
            t_rep = time.perf_counter()
            if traced and len(traced_r) < len(plain_s):
                traced_r.append(traced())
            else:
                c0 = self.cpu_total()
                check = plain()
                plain_s.append((time.perf_counter() - t_rep,
                                self.cpu_total() - c0))
                try:
                    ops, bad = check()
                except Exception:
                    traceback.print_exc()
                    ops, bad = 1, 1
                self.attempted += ops
                self.failed += bad
            last = time.perf_counter() - t_rep
        return plain_s, traced_r


class Spans:
    """Wall-clock spans of one traced repetition, each under a job group
    of the same name; a span's self time runs from the previous mark."""

    def __init__(self, bench: Bench, first: str):
        self.bench, self.times, self.t = bench, {}, time.perf_counter()
        self.current = first
        bench.group(first)

    def enter(self, name: str):
        now = time.perf_counter()
        self.times[self.current] = self.times.get(self.current, 0.0) + (
            now - self.t)
        self.current, self.t = name, now
        self.bench.group(name)

    def close(self) -> dict:
        self.enter("aux")
        return self.times


# --------------------------------------------------------------------------
# kg_small
# --------------------------------------------------------------------------


def run_kg(b: Bench) -> dict:
    from xwikire_spark.pipeline.canonicalize import (
        canonical_entity_map,
        canonicalize_triples,
    )
    from xwikire_spark.pipeline.extraction import (
        extract_triples,
        make_candidate_generator,
    )
    from xwikire_spark.pipeline.graph import entity_salience, materialize_graph
    from xwikire_spark.pipeline.manifests import pending_buckets

    data = gen.kg_small(b.args.seed, b.size["n_convs"])
    rows = data["transcripts"]
    b.group("setup")
    transcripts = b.write("transcripts", rows)
    alias_df = b.write("aliases", data["aliases"])
    pred_df = b.write("predicates", data["predicates"])
    apairs = gen.alias_pairs(data["aliases"])
    ppairs = gen.predicate_pairs(data["predicates"])
    want = Counter(checks.expected_triples(rows, apairs, ppairs))
    want_sal = checks.expected_salience(list(want.elements()))
    pr = []

    def build(df):
        return canonicalize_triples(extract_triples(df, alias_df, pred_df),
                                    alias_df)

    def out_dir():
        path = os.path.join(b.run_dir, "graph")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def plain():
        b.group("plain")
        edges, _ = materialize_graph(b.spark, transcripts, build, out_dir(),
                                     n_buckets=N_BUCKETS)
        sal = entity_salience(edges).collect()
        return lambda: check(edges, sal)

    def check(edges, sal):
        b.group("check")
        got = Counter(tuple(r) for r in edges.select(
            "conv_id", "subj", "pred", "obj").collect())
        if b.args.fault == "drop-triple":
            got[next(iter(got))] -= 1
            got += Counter()
        pr.append(checks.precision_recall(got, want))
        got_sal = [
            (r["entity_id"], r["rank"], r["out_degree"], r["in_degree"],
             r["conv_mentions"])
            for r in sorted(sal, key=lambda r: r["salience_rank"])
        ]
        ok = got == want and checks.salience_matches(got_sal, want_sal)
        return 1, int(not ok)

    def traced():
        out = out_dir()
        b.group("aux")
        pending = len(pending_buckets(b.spark, transcripts, out, N_BUCKETS))
        spans = Spans(b, "manifests.plan")
        counts = {}

        def layered(df):
            spans.enter("extraction")
            t = extract_triples(df, alias_df, pred_df).localCheckpoint()
            spans.enter("canonicalize.map")
            m = canonical_entity_map(alias_df).localCheckpoint()
            spans.enter("canonicalize.rewrite")
            r = canonicalize_triples(t, alias_df, entity_map=m)
            r = r.localCheckpoint()
            spans.enter("manifests.write")
            counts["triples"] = t
            return r

        c0 = b.proc.cpu()
        edges, _ = materialize_graph(b.spark, transcripts, layered, out,
                                     n_buckets=N_BUCKETS)
        spans.enter("graph.salience")
        entity_salience(edges).collect()
        times = spans.close()
        c1 = b.proc.cpu()
        files, nbytes = 0, 0
        for d, _, fs in os.walk(out):
            for f in fs:
                if not f.endswith(".crc"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(d, f))
        return {
            "times": times,
            "cpu": {k: c1[k] - c0[k] for k in c1},
            "triples": counts["triples"].count(),
            "pending": pending,
            "total": b.spark.read.parquet(
                os.path.join(out, "_manifests")).count(),
            "files": files,
            "bytes": nbytes,
        }

    for _ in range(b.size["warmup"]):
        plain()
    b.setup_s = time.perf_counter() - b.t0
    samples, traced_reps = b.loop(plain, traced if b.args.trace else None)
    b.samples = samples
    b.details["turns"] = len(rows)
    if not b.args.trace:
        return kg_e2e(b, samples, len(rows), pr)

    # kernel cost alone: the fused generator single-threaded on the driver
    import pandas as pd

    gen_fn = make_candidate_generator(apairs, ppairs)
    frame = pd.DataFrame(rows)[["conv_id", "turn_idx", "text"]]
    batches = [frame.iloc[i:i + 10000] for i in range(0, len(frame), 10000)]
    t0 = time.perf_counter()
    n_cands = sum(len(out) for out in gen_fn(iter(batches)))
    kernel_us = (time.perf_counter() - t0) / len(rows) * 1e6
    b.details["kernel_candidates"] = n_cands
    return {"plain": samples, "traced": traced_reps, "kernel_us": kernel_us,
            "turns": len(rows), "input_dir": os.path.join("in", "transcripts"),
            "graph_dir": os.path.join(b.run_dir, "graph")}


def kg_e2e(b: Bench, samples, n_turns, pr) -> dict:
    wall = statistics.median(s[0] for s in samples)
    return {
        "wall_s": (wall, "s"),
        "turns_per_s": (n_turns / wall, "1/s"),
        "triple_precision": (statistics.mean(p for p, _ in pr), "ratio"),
        "triple_recall": (statistics.mean(r for _, r in pr), "ratio"),
    }


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------


def run_operators(b: Bench) -> dict:
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    from xwikire_spark.operators.asof import asof_join
    from xwikire_spark.operators.chunking import chunk_documents
    from xwikire_spark.operators.dedup import (
        near_duplicates_minhash,
        ngram_jaccard_pairs_within_groups,
    )
    from xwikire_spark.operators.graph_metrics import triangle_counts
    from xwikire_spark.operators.quantiles import exact_group_quantiles
    from xwikire_spark.operators.ranking import tfidf_top_terms
    from xwikire_spark.operators.similarity import cosine_topk_bruteforce
    from xwikire_spark.operators.textstats import scrub_pii
    from xwikire_spark.pipeline.canonicalize import connected_components

    data = gen.operators(b.args.seed, b.size["n_docs"])
    b.group("setup")
    t = {name: b.write(name, rows) for name, rows in data.items()}
    docs, emb, ev = t["documents"], t["embeddings"], t["events"]
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").groupBy(
        "user_id", "ts").agg(F.round(F.max("value"), 6).alias("view_value"))
    d = data["documents"]
    # name -> (call, output columns compared, expected rows)
    ops = {
        "minhash_lsh": (lambda: near_duplicates_minhash(docs),
                        ["doc_a", "doc_b", "jaccard"], checks.minhash_lsh(d)),
        "near_jaccard": (
            lambda: ngram_jaccard_pairs_within_groups(docs, ["lang", "source"]),
            ["doc_a", "doc_b", "jaccard"], checks.near_jaccard(d)),
        "ann_cosine": (
            lambda: cosine_topk_bruteforce(emb.where(F.col("vec_id") < 8), emb),
            ["query_id", "neighbor_id", "rank"],
            checks.ann_cosine(data["embeddings"])),
        "scrub_pii": (
            lambda: scrub_pii(docs),
            ["doc_id", "lang", "source", "n_chars", "n_urls", "n_emails",
             "text"], checks.scrub_pii(d)),
        "triangles": (lambda: triangle_counts(t["graph"]),
                      ["node", "n_triangles"], checks.triangles(data["graph"])),
        "group_quantiles": (
            lambda: exact_group_quantiles(
                docs.select("lang", "n_chars", "doc_id"), "n_chars", "lang",
                QUANTILES, tiebreak_col="doc_id"),
            ["lang", "q", "value"], checks.group_quantiles(d, QUANTILES)),
        "tfidf": (lambda: tfidf_top_terms(docs, "source"),
                  ["source", "term", "tf", "df", "score", "rank"],
                  checks.tfidf(d)),
        "chunks": (lambda: chunk_documents(docs),
                   ["doc_id", "chunk_idx", "chunk_text", "n_tokens"],
                   checks.chunks(d)),
        "asof": (lambda: asof_join(purchases, views, on="ts", by="user_id"),
                 ["event_id", "user_id", "ts", "view_value_right", "ts_right"],
                 checks.asof(data["events"])),
        "cc_brands": (
            lambda: connected_components(t["cc_vertices"], t["cc_edges"]),
            ["id", "component"],
            checks.cc(data["cc_vertices"], data["cc_edges"])),
    }
    order = list(OPS)
    random.Random(b.args.seed).shuffle(order)
    n_rows = sum(len(rows) for rows in data.values())

    def fingerprint(df):
        cols = [
            F.round(f.name, 6) if isinstance(f.dataType, (DoubleType, FloatType))
            else F.col(f.name)
            for f in df.schema.fields
        ]
        h = F.xxhash64(*cols)
        return tuple(df.agg(
            F.count(F.lit(1)), F.bit_xor(h),
            F.sum(F.pmod(h, F.lit(2147483647))),
        ).first())

    # record the expected fingerprints: first pass, every output cross-
    # checked row for row against the independent oracle
    expected = {}
    for name in order:
        call, cols, want = ops[name]
        df = call()
        b.group("check")
        got = {tuple(r) for r in df.select(*cols).collect()}
        if got != want:
            print(f"operator {name}: {len(got ^ want)} rows differ from the"
                  f" oracle, e.g. {sorted(got ^ want, key=str)[:3]}",
                  file=sys.stderr)
            expected[name] = None
        else:
            expected[name] = fingerprint(df)
    outcomes = []

    def one_pass(spans=None):
        results = {}
        for name in order:
            if spans:
                spans.enter(f"operators.{name}")
            else:
                b.group("plain")
            try:
                results[name] = fingerprint(ops[name][0]())
            except Exception:
                traceback.print_exc()
                results[name] = None
        return results

    def plain():
        results = one_pass()

        def check():
            bad = sum(
                results[n] is None or results[n] != expected[n] for n in order
            )
            if b.args.fault == "drop-triple":
                bad = max(bad, 1)
            outcomes.append(bad)
            return len(order), bad
        return check

    def traced():
        c0 = b.proc.cpu()
        spans = Spans(b, "aux")
        one_pass(spans)
        times = spans.close()
        c1 = b.proc.cpu()
        return {"times": times, "cpu": {k: c1[k] - c0[k] for k in c1}}

    for _ in range(b.size["warmup"] - 1):
        one_pass()
    b.setup_s = time.perf_counter() - b.t0
    samples, traced_reps = b.loop(plain, traced if b.args.trace else None)
    b.samples = samples
    b.details["input_rows"] = n_rows
    if b.args.trace:
        return {"plain": samples, "traced": traced_reps, "kernel_us": 0.0,
                "turns": 0, "input_dir": None, "graph_dir": b.run_dir}
    wall = statistics.median(s[0] for s in samples)
    ok_share = 1 - sum(outcomes) / (len(order) * len(outcomes))
    return {
        "wall_s": (wall, "s"),
        "turns_per_s": (n_rows / wall, "1/s"),
        "triple_precision": (ok_share, "ratio"),
        "triple_recall": (ok_share, "ratio"),
    }


# --------------------------------------------------------------------------
# per-layer metrics from the traced repetitions
# --------------------------------------------------------------------------


def layer_metrics(b: Bench, res: dict, stack_traces: int) -> dict:
    """Fold the event log into per-layer metrics, per traced repetition."""
    ev = tr.EventLog(b.event_dir)
    reps = res["traced"]
    n = len(reps)
    mean = lambda xs: sum(xs) / len(xs)  # noqa: E731
    times = {k: mean([r["times"].get(k, 0.0) for r in reps])
             for k in set().union(*(r["times"] for r in reps))}
    # materialize_graph writes the vertex table after the edges, inside
    # the same call: its SQL executions are the ones writing "vertices"
    vert_s = ev.regroup("manifests.write", "graph.vertices",
                        "InsertIntoHadoopFsRelationCommand file:"
                        f"{res['graph_dir']}/vertices,") / n
    times["graph.vertices"] = vert_s
    if "manifests.write" in times:
        times["manifests.write"] -= vert_s
    m = {}
    for span in KG_SPANS:
        counters = ev.span(span)
        m[f"{span}.self_s"] = (times.get(span, 0.0), "s")
        for field in tr.SPAN_FIELDS:
            unit = ("s" if field.endswith("_s")
                    else "bytes" if field.endswith("bytes") else "count")
            m[f"{span}.{field}"] = (counters[field] / n, unit)
    kg = bool(res["turns"])
    rows_in, cands = ev.python_rows("extraction")
    turns = res["turns"]

    def py(name):  # one Python-runner SQL metric, per traced repetition
        return ev.task_metric("extraction", "Name", {name}) / n

    m.update({
        "extraction.turns_in": (turns, "count"),
        "extraction.python_rows_in": (rows_in / n, "count"),
        "extraction.prefilter_pass_ratio": (
            rows_in / n / turns if kg else 0.0, "ratio"),
        "extraction.candidates": (cands / n, "count"),
        "extraction.triples": (
            mean([r["triples"] for r in reps]) if kg else 0, "count"),
        "extraction.py_bytes_sent": (py(tr.PY_SENT), "bytes"),
        "extraction.py_bytes_returned": (py(tr.PY_RETURNED), "bytes"),
        "extraction.py_run_s": (py(tr.PY_RUN) / 1000, "s"),
        "extraction.py_start_s": (py(tr.PY_START) / 1000, "s"),
        "extraction.kernel_us_per_turn": (res["kernel_us"], "us"),
        "manifests.buckets_pending": (
            mean([r["pending"] for r in reps]) if kg else 0, "count"),
        "manifests.buckets_total": (
            mean([r["total"] for r in reps]) if kg else 0, "count"),
        "manifests.input_scans": (
            ev.input_scans(KG_SPANS, res["input_dir"]) / n if kg else 0,
            "count"),
        "manifests.bytes_written": (
            mean([r["bytes"] for r in reps]) if kg else 0, "bytes"),
        "manifests.files_written": (
            mean([r["files"] for r in reps]) if kg else 0, "count"),
    })
    for op in OPS:
        c = ev.span(f"operators.{op}")
        m[f"operators.{op}.self_s"] = (times.get(f"operators.{op}", 0.0), "s")
        m[f"operators.{op}.jobs"] = (c["jobs"] / n, "count")
        m[f"operators.{op}.exec_cpu_s"] = (c["exec_cpu_s"] / n, "s")
        m[f"operators.{op}.shuffle_write_bytes"] = (
            c["shuffle_write_bytes"] / n, "bytes")
    rss = b.rss
    cpu = {k: mean([r["cpu"][k] for r in reps]) for k in reps[0]["cpu"]}
    plain_wall = statistics.median(s[0] for s in res["plain"])
    traced_total = mean([sum(v for k, v in r["times"].items() if k != "aux")
                         for r in reps])
    m.update({
        "proc.driver_cpu_s": (cpu["driver"], "s"),
        "proc.jvm_cpu_s": (cpu["jvm"], "s"),
        "proc.pyworker_cpu_s": (cpu["pyworker"], "s"),
        "proc.jvm_peak_rss_mb": (rss["jvm"], "MB"),
        "proc.pyworker_peak_rss_mb": (rss["pyworker"], "MB"),
        "jvm.stack_traces": (stack_traces, "count"),
        "trace_overhead_s": (traced_total - plain_wall, "s"),
    })
    b.details["traced_reps"] = n
    b.details["untraced_wall_s"] = plain_wall
    b.details["traced_total_s"] = traced_total
    return m


# --------------------------------------------------------------------------


WORKLOADS = {"kg_small": run_kg, "operators": run_operators}


def percentile_note(walls: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    n = len(walls)
    if n < 11:
        return {"samples": n, "p_hi": None, "max": max(walls)}
    p = int(100 * (n - 10) / n)
    return {"samples": n, "p_hi": p,
            "value": statistics.quantiles(walls, n=100)[p - 1]}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", choices=sorted(SIZES), default="full")
    p.add_argument("--fault", choices=["drop-triple"], default=None,
                   help="corrupt the checked output (self-test negative case)")
    args = p.parse_args(argv)
    t0 = time.perf_counter()
    os.environ["TZ"] = "UTC"
    time.tzset()

    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    run_dir = os.path.join(OUT_ROOT, f"{tag}-{os.getpid()}")
    log_dir = os.path.join(OUT_ROOT, "logs")
    os.makedirs(log_dir, exist_ok=True)
    os.makedirs(run_dir)
    log_path = os.path.join(log_dir, f"{tag}.stderr.log")
    # the JVM and its Python workers inherit fd 2: their stderr goes to the
    # run's log; the benchmark's own failures still reach the terminal
    terminal = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    b = Bench(args, run_dir)
    b.t0 = t0
    try:
        b.start()
        res = WORKLOADS[args.workload](b)
        b.rss = b.proc.peak_rss_mb()
        conf = dict(b.sc.getConf().getAll())
        b.details.update({
            "workload": args.workload, "seed": args.seed, "nproc": b.nproc,
            "spark": b.spark.version, "python": platform.python_version(),
            "spark_conf": {k: v for k, v in sorted(conf.items())
                           if not k.endswith(("port", "startTime", "id"))},
        })
        b.stop()
        sys.stderr.flush()
        if args.trace:
            metrics = layer_metrics(b, res, tr.count_stack_traces(log_path))
        else:
            metrics = dict(res, setup_s=(b.setup_s, "s"))
    except Exception:
        os.write(terminal, traceback.format_exc().encode())
        b.stop()
        return 1
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    b.details.update({
        "setup_s": b.setup_s,
        "cpu_s": statistics.median(c for _, c in b.samples),
        "failed_frac": b.failed / b.attempted,
        "wall_s": percentile_note([w for w, _ in b.samples]),
        "stderr_log": os.path.relpath(log_path, ROOT),
    })
    result = {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in
                    sorted(metrics.items())},
    }
    print(json.dumps(b.details, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
