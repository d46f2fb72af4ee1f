"""Oracle-checked benchmark of the search engine's public entry points.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8 --trace 0

One process, one closed-loop client (each call waits for the previous one),
get_spark(master="local[<cores>]") with the engine's default settings and no
engine knob. Inputs come from --seed (perfbench/workloads.py). Every
operation's output is checked against a brute-force oracle after the timed
phase (perfbench/oracles.py); a wrong answer counts as failed.

The last stdout line is one JSON object: correct / attempted / failed and the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1). A
human-readable report with per-op-type medians, sample counts, failures by op
type and the host-noise control goes to stderr. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORKLOADS = ("serve", "lsm")

# name -> unit; must equal BENCHMARK.json (checked by test_perfbench.py)
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "wand_p50_s": "s",
    "hamming_p50_s": "s",
    "driver_rss_mb": "MB",
    "index_bytes_per_text_byte": "ratio",
}
PER_LAYER = {
    "host.kernel_control_s": "s",
    "session.start_s": "s",
    "wet.extract_s": "s",
    "docids.assign_s": "s",
    "docids.jobs": "count",
    "signatures.build_s": "s",
    "signatures.hamming_s": "s",
    "fly.featurize_kernel_s": "s",
    "postings.build_s": "s",
    "postings.jobs": "count",
    "postings.stage_shuffle_bytes": "bytes",
    "postings.executor_cpu_s": "s",
    "postings.tokenize_kernel_s": "s",
    "postings.kernel_frac": "ratio",
    "codec.encode_blocks_s": "s",
    "codec.decode_blocks_batch_s": "s",
    "codec.varbyte_decode_s": "s",
    "bm25.open_index_cold_s": "s",
    "bm25.open_index_warm_s": "s",
    "bm25.jobs_per_query": "count",
    "bm25.stages_per_query": "count",
    "bm25.tasks_per_query": "count",
    "bm25.executor_run_s": "s",
    "bm25.executor_cpu_s": "s",
    "bm25.driver_s": "s",
    "bm25.result_bytes_per_query": "bytes",
    "bm25.scatter_jobs_per_query": "count",
    "bm25.scatter_shuffle_bytes_per_query": "bytes",
    "bm25.scatter_executor_run_s": "s",
    "bm25.decoded_blocks_k10": "count",
    "bm25.decoded_blocks_k100": "count",
    "bm25.candidate_blocks": "count",
    "bm25.decode_frac": "ratio",
    "phrase.match_s": "s",
    "phrase.jobs_per_query": "count",
    "phrase.shuffle_bytes_per_query": "bytes",
    "trace.wand_p50_s": "s",
}


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


def host_kernel_control() -> float:
    """Fixed-input tokenize kernel, no Spark: the ambient-noise control."""
    import pandas as pd

    from pears_fruit_fly_spark.fixtures.webtext import make_web_pages
    from pears_fruit_fly_spark.operators.postings import tokenize_batch_kernel

    from perfbench.workloads import VOCAB_SIZE, vocab

    pages = make_web_pages(300, v=VOCAB_SIZE, seed=0)
    pdf = pd.DataFrame({"doc_id": range(len(pages)), "text": pages["text"]})
    index = pd.Index(vocab().terms)
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        tokenize_batch_kernel(pdf, index, "text", with_positions=True)
        times.append(time.perf_counter() - t0)
    return _median(times)


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) jiffies of the whole VM from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, start time, state) of every process from /proc."""
    procs = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        procs[int(pid)] = (int(fields[1]), int(fields[19]), fields[0])
    return procs


def _descendants(root: int) -> set[tuple[int, int]]:
    """(pid, start time) of every live process below root."""
    procs = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), list(children.get(root, []))
    while todo:
        pid = todo.pop()
        if procs[pid][2] != "Z":
            out.add((pid, procs[pid][1]))
        todo.extend(children.get(pid, []))
    return out


def _still_running(tree: set[tuple[int, int]]) -> set[tuple[int, int]]:
    procs = _proc_table()
    return {(pid, st) for pid, st in tree
            if pid in procs and procs[pid][1] == st and procs[pid][2] != "Z"}


def stop_spark(grace_s: float = 30.0) -> None:
    """Stop the SparkContext and the JVM behind it, then make sure every
    process this run started (the JVM, Spark's Python daemon and workers)
    has ended: SIGTERM after grace_s, SIGKILL 10 s later, and wait for each.
    Safe to call on any path out, with or without a live session."""
    tree = _descendants(os.getpid())
    try:
        from pyspark import SparkContext
    except ImportError:
        SparkContext = None
    if SparkContext is not None:
        sc = SparkContext._active_spark_context
        if sc is not None:
            try:
                sc.stop()
            except Exception:
                _log(f"SparkContext.stop failed:\n{traceback.format_exc()}")
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes (PythonGatewayServer)
            try:
                proc.stdin.close()
            except Exception:
                pass
            try:
                proc.wait(grace_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline, sig = time.monotonic() + grace_s, signal.SIGTERM
    while True:
        left = _still_running(tree)
        if not left:
            return
        if time.monotonic() > deadline:
            for pid, _ in left:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
            deadline, sig = time.monotonic() + 10, signal.SIGKILL
        time.sleep(0.1)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 work: Path):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.work = trace, work
        self.lat: dict[str, list[float]] = {}
        self.cpu: dict[str, list[float]] = {}
        self.results: list[tuple] = []   # (op, rows, dead urls, span)
        self.dead: frozenset = frozenset()   # urls deleted so far
        self.failed_by: dict[str, int] = {}
        self.attempted = 0
        self.n_timed = 0
        self.timed_wall = 0.0

    # -- set-up -------------------------------------------------------------
    def start(self):
        from pears_fruit_fly_spark.session import get_spark

        from perfbench import workloads as w

        self.w = w
        self.control_s = host_kernel_control()
        self.raw = w.base_pages()                   # generation: not set-up
        if self.workload == "lsm":
            self.batch = w.append_batch(self.raw)
            self.deletes = w.delete_urls(self.seed, self.raw, self.batch)
        self.vocab = w.vocab()
        cores = len(os.sched_getaffinity(0))
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{cores}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.host": "127.0.0.1",
                "spark.driver.bindAddress": "127.0.0.1",
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.work / 'tmp'}",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        from perfbench.trace import Tracer

        self.tr = Tracer(self.spark, self.trace)
        cached = self.cached_engine(       # once per checkout, not timed
            "segmented" if self.workload == "lsm" else "base")
        t1 = time.perf_counter()
        shutil.copytree(cached, self.work / "engine")
        self.eng = self.engine(self.work / "engine")
        from perfbench.oracles import latest_texts

        texts = list(latest_texts(self.raw)["text"])
        for kind, arg, k in self.w.warmup_ops(self.workload, self.seed, texts):
            self.op(kind, arg, k, timed=False)
        if self.workload == "lsm":
            self.rounds = self.w.lsm_rounds(self.seed, self.deletes)
            for _ in range(self.w.LSM_WARM_ROUNDS):
                for kind, arg, k in next(self.rounds):
                    self.op(kind, arg, k, timed=False)
        self.setup_s = self.session_s + time.perf_counter() - t1

    def engine(self, path):
        from pears_fruit_fly_spark.api import SearchEngine
        from pears_fruit_fly_spark.config import PostingsConfig

        return SearchEngine(self.spark, str(path), self.vocab, self.w.FLY,
                            PostingsConfig(store_positions=True))

    def cached_engine(self, kind: str) -> Path:
        """The base corpus ("base"), or the base plus one appended segment
        ("segmented"), indexed by this checkout's code on first use and kept
        under .bench_cache/ for later runs: index() and append() each cost
        30-50 s of fixed Spark overhead in a fresh session, more than one
        run can spend."""
        import hashlib
        import inspect

        from pears_fruit_fly_spark.sources.wet import extract_pages

        w = self.w
        h = hashlib.sha1(repr((w.VOCAB_SIZE, w.FLY, w.BASE_SEED, w.BASE_PAGES,
                               w.APPEND_PAGES, w.RECRAWL_FRAC)).encode())
        h.update(inspect.getsource(w.base_pages).encode())
        h.update(inspect.getsource(w.append_batch).encode())
        for f in sorted((ROOT / "pears_fruit_fly_spark").rglob("*.py")):
            h.update(f.read_bytes())
        path = ROOT / ".bench_cache" / h.hexdigest()[:16] / kind
        if path.exists():
            return path
        tmp = path.with_name(f"{kind}.tmp-{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            if kind == "base":
                self.engine(tmp).index(extract_pages(self.raw_sdf.drop("text")))
            else:
                shutil.copytree(self.cached_engine("base"), tmp)
                t0 = time.perf_counter()
                self.engine(tmp).append(extract_pages(
                    self.spark.createDataFrame(self.batch).drop("text")))
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        try:
            os.replace(tmp, path)
        except OSError:  # another run cached it first
            shutil.rmtree(tmp)
        _log(f"cached the {kind} engine: "
             f"{'index' if kind == 'base' else 'append'} took "
             f"{time.perf_counter() - t0:.1f} s")
        return path

    @property
    def raw_sdf(self):
        if not hasattr(self, "_raw_sdf"):
            self._raw_sdf = self.spark.createDataFrame(self.raw)
        return self._raw_sdf

    # -- timed phase ----------------------------------------------------------
    def op(self, kind: str, arg, k: int, timed: bool = True):
        """One closed-loop call; its output is kept for the checks."""
        from pears_fruit_fly_spark.operators.bm25 import bm25_topk_wand_batch

        eng = self.eng
        self.attempted += 1
        with self.tr.span(kind) as sp:
            try:
                if kind in ("bm25", "hamming", "hybrid"):
                    out = eng.search(arg, k=k, mode=kind).collect()
                elif kind == "phrase":
                    out = eng.search_phrase(arg, k=k).collect()
                elif kind == "boolean":
                    out = eng.search_boolean(arg, k=k).collect()
                elif kind == "batch":
                    out = bm25_topk_wand_batch(self.spark, eng.index_dir, arg,
                                               self.vocab, k=k).collect()
                elif kind == "delete":
                    out = eng.delete(arg)
                    self.dead = self.dead | frozenset(arg)
                else:
                    raise ValueError(kind)
            except Exception:
                _log(f"{kind} failed:\n{traceback.format_exc()}")
                self.failed_by[kind] = self.failed_by.get(kind, 0) + 1
                return None
        sp["timed"] = timed
        if timed:
            self.lat.setdefault(kind, []).append(sp["wall_s"])
            self.cpu.setdefault(kind, []).append(sp["cpu_s"])
            self.n_timed += 1
        self.results.append(((kind, arg, k), out, self.dead, sp))
        return out

    def timed(self):
        """serve: the bm25 / hamming loop for --seconds. lsm: rounds of a
        delete, a bm25 and a hamming search (both cache misses) until
        --seconds have passed or the delete lists run out."""
        self.steal0 = _cpu_jiffies()
        t0 = time.perf_counter()
        if self.workload == "lsm":
            for ops in self.rounds:
                for kind, arg, k in ops:
                    self.op(kind, arg, k)
                if time.perf_counter() - t0 >= self.seconds:
                    break
        else:
            reads = iter(self.w.reads(self.seed))
            while time.perf_counter() - t0 < self.seconds:
                self.op(*next(reads))
        self.timed_wall = time.perf_counter() - t0
        busy, steal = (b - a for a, b in zip(self.steal0, _cpu_jiffies()))
        self.steal_frac = steal / max(1, busy + steal)

    # -- checks ---------------------------------------------------------------
    def snapshot(self):
        """docmap and stored signatures as restored, read before timing."""
        read = self.spark.read.parquet
        self.docmap = read(self.eng.docmap_path).toPandas()
        self.sigs = read(self.eng.sig_path).select("url", "sig").toPandas()
        if self.workload == "lsm":
            base = self.engine(self.cached_engine("base"))
            self.base_docmap = read(base.docmap_path).toPandas()

    def truth(self):
        import pandas as pd

        from perfbench.oracles import Truth, latest_texts

        docmap = self.docmap
        want = latest_texts(self.raw)
        problems = []
        if self.workload == "lsm":
            fresh = latest_texts(self.batch)
            fresh = fresh[~fresh["url"].isin(set(want["url"]))]
            want = pd.concat([want, fresh], ignore_index=True)
            before = self.base_docmap.set_index("url")["doc_id"]
            after = docmap.set_index("url")["doc_id"].reindex(before.index)
            if not (after == before).all():
                problems.append("append changed doc ids of known urls")
        docs = want.merge(docmap, on="url", how="inner")
        if len(docs) != len(want) or len(docmap) != len(want):
            problems.append(f"docmap has {len(docmap)} urls, "
                            f"{len(docs)} of the {len(want)} indexed")
        if docmap["doc_id"].duplicated().any():
            problems.append("docmap doc_id not unique")
        self.truth_obj = Truth(docs, self.vocab, self.w.FLY, self.eng.projection,
                               self.sigs)
        self.text_bytes = sum(len(t.encode("utf-8")) for t in docs["text"]
                              if isinstance(t, str))
        return problems

    def check(self):
        from pears_fruit_fly_spark.sources.wet import extract_pages

        from perfbench import oracles as o

        wrong: dict[str, list[str]] = {}

        def bad(kind, msg):
            wrong.setdefault(kind, []).append(msg)

        for p in self.truth():
            bad("index", p)
        inputs = [(self.raw, self.raw_sdf)]
        if self.workload == "lsm":
            inputs.append((self.batch, self.spark.createDataFrame(self.batch)))
        for pdf, sdf in inputs:
            err = o.check_extraction(pdf, extract_pages(sdf.drop("text")).select(
                "url", "warc_ts", "text").toPandas())
            if err:
                bad("extract", err)
        t = self.truth_obj
        id_of = {u: d for d, u in t.url_of.items()}
        for (kind, arg, k), out, excl_urls, _ in self.results:
            excl_ids = frozenset(id_of[u] for u in excl_urls)
            err = None
            if kind == "bm25":
                err = (o.check_urls(out, t) or o.check_ranked(
                    [(r["doc_id"], r["score"]) for r in out],
                    t.bm25_ranked(arg, excluded=excl_ids), k))
            elif kind == "hamming":
                err = (o.check_urls(out, t) or o.check_hamming(
                    [(r["url"], r["hamming"]) for r in out],
                    t.hamming_ranked(arg, excl_urls), k))
            elif kind == "hybrid":
                pre = [id_of[u] for u, _ in t.hamming_ranked(arg)[:1000]]
                err = (o.check_urls(out, t) or o.check_ranked(
                    [(r["doc_id"], r["score"]) for r in out],
                    t.bm25_ranked(arg, t.doc_mask(pre), excl_ids), k))
            elif kind == "phrase":
                err = (o.check_urls(out, t) or o.check_ranked(
                    [(r["doc_id"], r["score"]) for r in out],
                    t.phrase_ranked(arg, excl_ids), k))
            elif kind == "boolean":
                err = (o.check_urls(out, t) or o.check_ranked(
                    [(r["doc_id"], r["score"]) for r in out],
                    t.boolean_ranked(arg, k, excl_ids), k))
            elif kind == "batch":
                by_q: dict[int, list] = {}
                for r in sorted(out, key=lambda r: (r["query_id"], -r["score"],
                                                    r["doc_id"])):
                    by_q.setdefault(r["query_id"], []).append(
                        (r["doc_id"], r["score"]))
                for qid, text in arg.items():
                    err = o.check_ranked(by_q.get(qid, []),
                                         t.bm25_ranked(text), k)
                    if err:
                        err = f"query {qid}: {err}"
                        break
            elif kind == "delete":
                if out != len(excl_urls):
                    err = f"{out} tombstones after deleting {len(excl_urls)} urls"
            if err:
                bad(kind, f"{arg!r:.80}: {err}")
        return wrong

    # -- the run --------------------------------------------------------------
    def run(self) -> dict:
        t_run = time.perf_counter()
        self.start()
        self.snapshot()
        self.timed()
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        index_bytes = dir_bytes(self.eng.index_dir)
        wrong = self.check()
        e2e = {
            "setup_s": self.setup_s,
            "ops_per_s": self.n_timed / self.timed_wall,
            "wand_p50_s": _median(self.lat.get("bm25", [])),
            "hamming_p50_s": _median(self.lat.get("hamming", [])),
            "driver_rss_mb": rss_mb,
            "index_bytes_per_text_byte": index_bytes / self.text_bytes,
        }
        n_wrong = sum(len(v) for v in wrong.values())
        failed = sum(self.failed_by.values()) + n_wrong
        self.report(e2e, wrong)
        _log(f"  phases: set-up {self.setup_s:.1f} s, timed {self.timed_wall:.1f} s, "
             f"run so far {time.perf_counter() - t_run:.1f} s")
        if self.trace:
            metrics = self.layers()
            traces = ROOT / ".bench_traces"
            traces.mkdir(exist_ok=True)
            self.tr.write(str(traces / f"{self.workload}-{self.seed}.json"))
        else:
            metrics = e2e
        units = PER_LAYER if self.trace else END_TO_END
        if set(metrics) != set(units):
            raise RuntimeError(f"metric set drifted: {sorted(set(metrics) ^ set(units))}")
        return {
            "correct": failed == 0,
            "attempted": self.attempted,
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }

    def report(self, e2e: dict, wrong: dict):
        _log(f"{self.workload} seed={self.seed} trace={int(self.trace)} "
             f"host.kernel_control_s={self.control_s:.4f} "
             f"session.start_s={self.session_s:.2f} "
             f"cpu stolen by the host during the timed phase={self.steal_frac:.0%}")
        for k, v in e2e.items():
            _log(f"  {k:28s} {v:12.4f} {END_TO_END[k]}")
        for (kind, _, _), _, _, sp in self.results:
            if not sp["timed"]:
                _log(f"  set-up call {kind:8s} {sp['wall_s']:8.4f} s  "
                     f"cpu {sp['cpu_s']:8.4f} s")
        for kind, xs in sorted(self.lat.items()):
            _log(f"  op {kind:8s} p50 {_median(xs):8.4f} s  max {max(xs):8.4f} s"
                 f"  cpu p50 {_median(self.cpu[kind]):8.4f} s  n={len(xs)}")
        _log("  timed sequence (wall/cpu s): " + " ".join(
            f"{op[0]}:{sp['wall_s']:.2f}/{sp['cpu_s']:.2f}"
            for op, _, _, sp in self.results if sp["timed"]))
        for kind, n in sorted(self.failed_by.items()):
            _log(f"  ERRORS {kind}: {n}")
        for kind, msgs in sorted(wrong.items()):
            _log(f"  WRONG {kind}: {len(msgs)}")
            for m in msgs[:5]:
                _log(f"    {m}")

    # -- traced run: per-layer metrics ---------------------------------------
    def layers(self) -> dict:
        from perfbench import layers

        return layers.measure(self)


def run_all(args) -> int:
    """Run every workload in turn (one process each) and print a table."""
    rc = 0
    for wl in WORKLOADS:
        p = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--workload", wl,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            print(f"{wl}: exit {p.returncode}")
            rc = 1
            continue
        res = json.loads(lines[-1])
        print(f"{wl}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']}")
        for name, m in res["metrics"].items():
            print(f"  {name:36s} {m['value']:14.4f} {m['unit']}")
        rc |= 0 if res["correct"] else 1
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)

    sys.path.insert(0, str(ROOT))
    try:
        import pears_fruit_fly_spark  # noqa: F401
    except ImportError as e:
        _log(f"engine package not importable from {ROOT}: {e}")
        return 2
    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    # Spark's Python workers import the package from the checkout; scratch
    # files of Spark, the JVM and Python stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # a SIGTERM from outside unwinds through the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        result = Bench(args.workload, args.seed, args.seconds, bool(args.trace),
                       work).run()
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
