"""Closed-loop benchmark of the osm_lib_spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload osm --seed 1 --seconds 10 --trace 0

One client in one process calls the engine's public functions one after
another on a host-sized ``local[nproc]`` session, checks every result
against a reference, and prints the end-to-end metrics (``--trace 0``)
or the per-layer ledger folded from Spark's event log (``--trace 1``).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. Workloads, metrics
and the reasons for them are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import ctypes
import glob
import hashlib
import inspect
import json
import os
import pickle
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
FIXTURE = os.path.join(ROOT, "fixtures", "sf-s")
CACHE = os.path.join(HERE, "cache")
GOLDEN = os.path.join(HERE, "golden")
OUT = os.path.join(HERE, "out")

WORKLOADS = ("osm", "corpus")
# end-to-end metrics shared by every workload; op1..op4 are the first
# four of the workload's named_metrics()
E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_gb": "GB",
    "op1_per_s": "1/s",
    "op2_per_s": "1/s",
    "op3_per_s": "1/s",
    "op4_per_s": "1/s",
}
SETUP_REPS = 3
# corpus inputs are fixed, so their DuckDB oracle results can be kept
# (see corpus_expected); the seed orders the corpus operations
CORPUS_SEED = 20240601
# dup_components costs about 1.6 s a call whatever its input (its jobs
# and Python worker round trips) plus about 0.26 ms a document at
# local[4], so at 12 000 documents the documents do two thirds of the
# work; more would not fit a run into the time the benchmark is given.
# ivf_pq_topk costs about 1.9 s a call plus 0.03 ms a vector: its input
# stays small because the DuckDB oracle that checks it cannot hold much
# more than a few thousand vectors (see README.md).
N_DOCS = 12_000
N_VECS = 2_000
# the first dup_components call is slow at any size: it is warmed on the
# first WARM_DOCS documents (checked against their own oracle result)
WARM_DOCS = 2_000


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def emit(tag: str, payload) -> None:
    print(json.dumps({tag: payload}, default=str), flush=True)


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def driver_memory_gb() -> int:
    """A quarter of MemTotal: leaves room for the Python workers, the page
    cache and whatever else shares the host."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1, int(kb / 1024**2 / 4))


def start_session(tmp: str, event_dir: str | None = None):
    from osm_lib_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    conf = {
        "spark.driver.memory": f"{driver_memory_gb()}g",
        "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.eventLog.enabled": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(8, cpus),
        extra_conf=conf,
    )
    emit("session", dict(sorted(spark.sparkContext.getConf().getAll())))
    return spark


def stop_session() -> None:
    from osm_lib_spark.session import stop_spark

    stop_spark()


def shutdown_jvm() -> None:
    """Stop the session, then the py4j gateway JVM, even when stopping the
    session fails (a SIGTERM can cut a call into the JVM short)."""
    try:
        stop_session()
    finally:
        stop_gateway()


def stop_gateway() -> None:
    """Stop the gateway JVM and wait for it: it leaves when its stdin
    closes."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the reaper of everything it starts: a descendant
    whose parent exits (the JVM's Python worker daemon when the JVM stops,
    for one) is re-parented here instead of to init, so reap_children
    waits for it too."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print(f"warning: prctl: {os.strerror(ctypes.get_errno())}", file=sys.stderr)


def child_pids() -> list[int]:
    me, pids = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if int(stat[stat.rindex(")") + 2 :].split()[1]) == me:
                pids.append(int(d))
    return pids


def reap_children(grace_s: float = 10.0) -> None:
    """Return once this process has no child left, running or exited. A
    child still running after ``grace_s`` seconds gets SIGTERM, and one
    still running ``grace_s`` later SIGKILL."""
    signals = [signal.SIGTERM, signal.SIGKILL]
    deadline = time.monotonic() + grace_s
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG)[0]:
                continue
        except ChildProcessError:
            return
        if signals and time.monotonic() >= deadline:
            sig = signals.pop(0)
            for pid in child_pids():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------


class Workload:
    """Base: ``references`` builds the checks' references that need no
    Spark, ``setup`` builds the cached inputs (timed as set-up), ``kinds``
    are the operation kinds of one round, ``call(kind)`` runs one
    operation and records its result in the ledger (returning {sample
    name: wall seconds} when one call times several operations),
    ``reference(key)`` builds any other reference after the loop, and
    ``named_metrics`` turns per-kind median latencies into (name, value)
    pairs, the first four of which are reported as op1..op4."""

    kinds: tuple[str, ...] = ()

    @staticmethod
    def references(seed: int) -> dict:
        """{ledger key: reference} for the results whose reference needs no
        Spark. Runs in a child process during the warm-up."""
        return {}

    def __init__(self, spark, tracer, ledger, seed: int, tmp: str):
        self.spark, self.tracer, self.ledger, self.seed, self.tmp = spark, tracer, ledger, seed, tmp
        self.width = spark.sparkContext.defaultParallelism
        self.out_rows: dict[str, int] = {}
        self.sizes: dict[str, float] = {}

    def traced(self, call_site: str, request: int):
        from layers import group_of

        return self.tracer.span(group_of(call_site), request)

    def reference(self, key):
        raise KeyError(f"no reference for {key!r}")

    def count_rows(self, call_site: str, n: int) -> None:
        self.out_rows[call_site] = self.out_rows.get(call_site, 0) + n


class Osm(Workload):
    """The OSM entity workload: bbox extracts, kNN and intersections over
    the cached sf-s world, plus PBF and VEX write/read round trips of the
    whole world."""

    # one round: every call once, so that a run, most of which is the
    # session, set-up and warm-up, stays within its share of the time the
    # benchmark is given
    kinds = ("batch", "single", "knn5", "knn100", "intersections", "pbf", "vex")
    # kinds whose first call is much slower than the next: knn5 runs a
    # subset of knn100's rounds and vex reuses the Python workers the pbf
    # round trip started
    warm_kinds = ("batch", "single", "knn100", "pbf")

    def setup(self) -> None:
        """Parse the sf-s entity world into cached node/way/relation
        tables, build way_tiles and the relation closure context."""
        from layers import group_of, set_group
        from osm_lib_spark.operators.extract import prepare_extract_context
        from osm_lib_spark.operators.indexes import build_way_tiles
        from osm_lib_spark.sources.span_codec import parse_nodes, parse_relations, parse_ways

        for df in getattr(self, "cached", []):
            df.unpersist()
        docs = self.spark.read.parquet(os.path.join(FIXTURE, "docs.parquet"))
        group = group_of("parse")
        with self.traced("parse", -1):
            frames = [
                parse(docs).repartition(self.width, "id").cache()
                for parse in (parse_nodes, parse_ways, parse_relations)
            ]

            def materialize(df):
                if self.tracer.spark is not None:
                    set_group(self.spark, group)
                return df.count()

            # the three caches materialise as concurrent jobs, as bench.py does
            with ThreadPoolExecutor(3) as ex:
                counts = list(ex.map(materialize, frames))
        self.nodes, self.ways, self.relations = frames
        self.n_nodes, self.n_ways, _ = counts
        self.n_entities = sum(counts)
        with self.traced("build_way_tiles", -1):
            self.way_tiles = build_way_tiles(self.ways, self.nodes).cache()
            self.way_tiles.count()
        with self.traced("prepare_extract_context", -1):
            self.ctx = prepare_extract_context(self.relations)
        self.cached = frames + [self.way_tiles]

    @staticmethod
    def references(seed: int) -> dict:
        return osm_references(seed)

    def prepare(self) -> None:
        self.meta, self.boxes, self.knn5, self.knn100, self.batch = osm_inputs(self.seed)

    def call(self, kind: str, request: int):
        from checks import same_fingerprint, spark_fingerprint

        if kind == "batch":
            from osm_lib_spark.operators.extract import bbox_extract_batch

            batch = self.batch
            with self.traced("bbox_extract_batch", request):
                df = bbox_extract_batch(
                    self.nodes, self.ways, self.relations,
                    [self.boxes[n] for n in batch], way_tiles=self.way_tiles, ctx=self.ctx,
                )
                fp = spark_fingerprint(df, ["entity_type", "id"], by=["bbox_id", "entity_type"])
            self.count_rows("bbox_extract_batch", sum(n for n, _ in fp.values()))
            got = {(batch[i], et): v for (i, et), v in fp.items()}
            self.ledger.record("bbox_extract_batch", ("boxes", batch), got, same_fingerprint)
            return
        if kind == "single":
            from osm_lib_spark.operators.extract import bbox_extract

            with self.traced("bbox_extract", request):
                ext = bbox_extract(
                    self.nodes, self.ways, self.relations, self.boxes["dense"],
                    way_tiles=self.way_tiles, ctx=self.ctx,
                )
                fp = spark_fingerprint(ext.ids(ordered=False), ["entity_type", "id"], by=["entity_type"])
            got = {("dense", et): v for (et,), v in fp.items()}
            self.ledger.record("bbox_extract", ("boxes", ("dense",)), got, same_fingerprint)
            return
        if kind in ("knn5", "knn100"):
            from osm_lib_spark.operators.knn import knn_kring

            pts = self.knn5 if kind == "knn5" else self.knn100
            with self.traced("knn_kring", request):
                rows = knn_kring(self.nodes, pts, k=10, est_n_nodes=self.n_nodes).collect()
            self.count_rows("knn_kring", len(rows))
            got = sorted((int(r.query_id), int(r.rank), int(r.node_id)) for r in rows)
            self.ledger.record("knn_kring", (kind,), got)
            return
        if kind == "intersections":
            from osm_lib_spark.operators.intersections import intersections

            with self.traced("intersections", request):
                got = spark_fingerprint(intersections(self.ways), ["node_id"])
            self.ledger.record("intersections", ("intersections",), got, same_fingerprint)
            return
        if kind in ("pbf", "vex"):
            return self.roundtrip(kind, request)
        raise ValueError(kind)

    def roundtrip(self, kind: str, request: int) -> dict:
        """Write the whole world in ``kind`` and read it back: two timed
        operations from one call, judged together by the read-back."""
        from checks import same_fingerprint, spark_fingerprint

        if kind == "pbf":
            from osm_lib_spark.sources.pbf import read_pbf as read, write_pbf as write
        else:
            from osm_lib_spark.sources.vex import read_vex as read, write_vex as write
        path = os.path.join(self.tmp, f"entities.{kind}")
        t0 = time.perf_counter()
        with self.traced(f"write_{kind}", request):
            write(path, self.nodes, self.ways, self.relations)
        t1 = time.perf_counter()
        self.sizes[f"write_{kind}"] = os.path.getsize(path) / self.n_entities
        with self.traced(f"read_{kind}", request):
            got = spark_fingerprint(entity_keys(read(self.spark, path)), ["k"], by=["entity_type"])
        t2 = time.perf_counter()
        for op in (f"write_{kind}", f"read_{kind}"):
            self.ledger.record(op, ("roundtrip",), got, same_fingerprint)
        return {f"{kind}_write": t1 - t0, f"{kind}_read": t2 - t1}

    def reference(self, key):
        """The parsed input, fingerprinted by the same Spark expression as
        a codec read-back."""
        from pyspark.sql import functions as F

        from checks import spark_fingerprint

        if key != ("roundtrip",):
            return super().reference(key)
        n = self.nodes.select(F.lit("node").alias("entity_type"), "id", "fixed_lat", "fixed_lon")
        w = self.ways.select(F.lit("way").alias("entity_type"), "id")
        r = self.relations.select(F.lit("relation").alias("entity_type"), "id")
        parsed = n.unionByName(w, allowMissingColumns=True).unionByName(r, allowMissingColumns=True)
        return spark_fingerprint(entity_keys(parsed), ["k"], by=["entity_type"])

    def named_metrics(self, med: dict[str, float]) -> list[tuple[str, float]]:
        # single-extract latency is not among the first four: its per-run
        # median falls in two clusters (about 0.75 and 1.05 1/s at local[4])
        # that no number of calls in a run removes
        n = self.n_entities
        return [
            ("extract.bbox_per_s", len(self.batch) / med["batch"]),
            ("knn.queries_per_s", (len(self.knn5) + len(self.knn100)) / (med["knn5"] + med["knn100"])),
            ("pbf.entities_per_s", 2 * n / (med["pbf_write"] + med["pbf_read"])),
            ("vex.entities_per_s", 2 * n / (med["vex_write"] + med["vex_read"])),
            ("extract.single_per_s", 1 / med["single"]),
            ("intersections.ways_per_s", self.n_ways / med["intersections"]),
            ("pbf.write_entities_per_s", n / med["pbf_write"]),
            ("pbf.read_entities_per_s", n / med["pbf_read"]),
            ("vex.write_entities_per_s", n / med["vex_write"]),
            ("vex.read_entities_per_s", n / med["vex_read"]),
            ("codec.bytes_per_entity", sum(self.sizes.values())),
        ]


def osm_inputs(seed: int) -> tuple:
    """(fixture meta, {box name: bbox}, q=5 kNN points, seeded q=100 kNN
    points, the batch's box names): everything the seed drives."""
    import inputs

    with open(os.path.join(FIXTURE, "meta.json")) as f:
        meta = json.load(f)
    golden_nodes = _read_pandas(os.path.join(FIXTURE, "golden", "nodes.parquet"))
    lat = golden_nodes["fixed_lat"].to_numpy() / 1e7
    lon = golden_nodes["fixed_lon"].to_numpy() / 1e7
    boxes = {"dense": tuple(meta["bboxes"]["dense"])}
    for i, b in enumerate(inputs.box_pool(seed, lat, lon)):
        boxes[f"seed{i}"] = b
    knn5 = [tuple(p) for p in meta["knn_points"]]
    # the dense skew cluster plus the seeded pool, tiny to world-sized
    batch = ("dense",) + tuple(n for n in boxes if n.startswith("seed"))
    return meta, boxes, knn5, inputs.knn_points(seed, lat, lon), batch


def osm_references(seed: int) -> dict:
    """References of every osm result but the codec round trips: the
    fixture's goldens, and the pandas oracle on the generator's world for
    the seeded boxes and the q=100 kNN points. A reference that cannot be
    built is left out, so the calls it judges fail."""
    import pandas as pd

    from checks import pandas_fingerprint
    from osm_lib_spark.sources import oracle
    from osm_lib_spark.sources.generator import generate_world

    meta, boxes, _, knn100, batch = osm_inputs(seed)
    g = os.path.join(FIXTURE, "golden")
    world = generate_world("s")

    def extract(name):
        if name in meta["bboxes"]:
            ref = _read_pandas(os.path.join(g, f"extract_{name}.parquet"))
        else:
            ref = oracle.oracle_bbox_extract(boxes[name], world.nodes, world.ways, world.relations)
        return {(name, et): v for (et,), v in pandas_fingerprint(ref, ["entity_type", "id"], by=["entity_type"]).items()}

    def knn(ref):
        return sorted(
            (int(q), int(r), int(n))
            for q, r, n in pd.DataFrame(ref)[["query_id", "rank", "node_id"]].itertuples(index=False)
        )

    builders = {
        ("boxes", batch): lambda: {k: v for name in batch for k, v in extract(name).items()},
        ("boxes", ("dense",)): lambda: extract("dense"),
        ("knn5",): lambda: knn(_read_pandas(os.path.join(g, "knn.parquet"))),
        ("knn100",): lambda: knn(oracle.oracle_knn(world.nodes, knn100, k=10)),
        ("intersections",): lambda: pandas_fingerprint(
            _read_pandas(os.path.join(g, "intersections.parquet")), ["node_id"]
        ),
    }
    refs = {}
    for key, build in builders.items():
        try:
            refs[key] = build()
        except Exception as exc:
            print(f"warning: no reference for {key!r}: {type(exc).__name__}: {exc}", file=sys.stderr)
    return refs


def start_child(fn, *args):
    """Start ``fn(*args)`` in a child Python process. ``fn`` is a function
    of this module, found in the child by its qualified name; the arguments
    and the result cross as pickles over the child's stdin and stdout.
    Returns the child's pid and a function that waits for the child and
    returns the result."""
    child = subprocess.Popen(
        [sys.executable, "-c", CHILD_MAIN, fn.__qualname__],
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
    )
    with child.stdin:
        pickle.dump(args, child.stdin)

    def result():
        with child.stdout:
            out = child.stdout.read()
        if child.wait() != 0:
            raise RuntimeError(f"{fn.__name__} failed in its child process (see stderr)")
        return pickle.loads(out)

    return child.pid, result


# the child's program: whatever the function prints, from Python or from
# native code such as DuckDB's progress bar, goes to stderr, so stdout
# carries only the pickled result
CHILD_MAIN = """
import os, pickle, sys
import run
fn = run
for name in sys.argv[1].split("."):
    fn = getattr(fn, name)
args = pickle.load(sys.stdin.buffer)
out = os.fdopen(os.dup(1), "wb")
os.dup2(2, 1)
sys.stdout = sys.stderr
with out:
    out.write(pickle.dumps(fn(*args)))
"""


def entity_keys(df):
    """(entity_type, k) with k = id|lat|lon for nodes and the id otherwise:
    what a codec round trip must reproduce."""
    from pyspark.sql import functions as F

    key = F.when(
        F.col("entity_type") == "node",
        F.concat_ws("|", *[F.col(c).cast("string") for c in ("id", "fixed_lat", "fixed_lon")]),
    ).otherwise(F.col("id").cast("string"))
    return df.select("entity_type", key.alias("k"))


class Corpus(Workload):
    """The corpus workload: media decode and frame sampling over the sf-s
    media spans, duplicate components and IVF-PQ top-k over fixed
    generated documents and embeddings."""

    kinds = ("media_decode", "media_frames", "dedup", "ann")
    # sample_frames reuses the Python workers media decoding started
    warm_kinds = ("media_decode", "dedup_warm", "ann")
    MEDIA_COLS = ["doc_id", "media_ref", "f0", "f1", "f2", "f3"]
    FRAME_COLS = ["doc_id", "media_ref", "frame_idx", "frame_sig"]
    DEDUP_COLS = ["doc_id", "component_id", "keep"]

    @staticmethod
    def references(seed: int) -> dict:
        expected = corpus_expected()
        refs = {(k,): {(): tuple(expected[k])} for k in ("media_decode", "media_frames", "dedup", "dedup_warm")}
        refs[("ann",)] = [tuple(r) for r in expected["ann"]]
        return refs

    def prepare(self) -> None:
        write_corpus_inputs(self.tmp)

    def setup(self) -> None:
        for df in getattr(self, "cached", []):
            df.unpersist()
        read = self.spark.read.parquet
        self.documents = read(os.path.join(self.tmp, "documents.parquet")).repartition(self.width).cache()
        self.embeddings = read(os.path.join(self.tmp, "embeddings.parquet")).repartition(self.width).cache()
        self.media_docs = read(os.path.join(FIXTURE, "docs.parquet")).repartition(self.width).cache()
        self.cached = [self.documents, self.embeddings, self.media_docs]
        self.n_docs = self.documents.count()
        self.embeddings.count()
        self.media_docs.count()

    def call(self, kind: str, request: int):
        from checks import same_fingerprint, spark_fingerprint

        if kind == "media_decode":
            from osm_lib_spark.operators.multimodal import decode_media_features

            with self.traced("decode_media_features", request):
                got = spark_fingerprint(decode_media_features(self.media_docs), self.MEDIA_COLS)
            self.ledger.record("decode_media_features", (kind,), got, same_fingerprint)
            return
        if kind == "media_frames":
            from osm_lib_spark.operators.multimodal import sample_frames

            with self.traced("sample_frames", request):
                got = spark_fingerprint(sample_frames(self.media_docs), self.FRAME_COLS)
            self.ledger.record("sample_frames", (kind,), got, same_fingerprint)
            return
        if kind in ("dedup", "dedup_warm"):
            from pyspark.sql import functions as F

            from osm_lib_spark.operators.dedup import dup_components

            docs = self.documents if kind == "dedup" else self.documents.where(F.col("doc_id") < WARM_DOCS)
            with self.traced("dup_components", request):
                got = spark_fingerprint(dup_components(docs), self.DEDUP_COLS)
            self.ledger.record("dup_components", (kind,), got, same_fingerprint)
            return
        if kind == "ann":
            from osm_lib_spark.operators.similarity import ivf_pq_topk

            with self.traced("ivf_pq_topk", request):
                rows = ivf_pq_topk(self.embeddings, residual=True).collect()
            got = sorted((int(r.query_id), int(r.rank), int(r.neighbor_id)) for r in rows)
            self.ledger.record("ivf_pq_topk", (kind,), got)
            return
        raise ValueError(kind)

    def named_metrics(self, med):
        # media spans in the input: the row count of the decode oracle's result
        n_media = self.ledger.references[("media_decode",)][()][0]
        return [
            ("media.decode_items_per_s", n_media / med["media_decode"]),
            ("media.frames_items_per_s", n_media / med["media_frames"]),
            ("dedup.docs_per_s", self.n_docs / med["dedup"]),
            ("ann.queries_per_s", 10 / med["ann"]),
        ]


def _read_pandas(path: str):
    import pandas as pd

    return pd.read_parquet(path)


CORPUS_ORACLES = {"media_decode": "media_pipeline", "media_frames": "media_frames",
                  "dedup": "dedup_components", "ann": "ann_ivf_pq_topk"}


def write_corpus_inputs(out_dir: str) -> None:
    import inputs

    inputs.write_parquet(inputs.documents(CORPUS_SEED, N_DOCS), os.path.join(out_dir, "documents.parquet"))
    inputs.write_parquet(inputs.embeddings(CORPUS_SEED, N_VECS), os.path.join(out_dir, "embeddings.parquet"))


def corpus_expected() -> dict:
    """Fingerprints of the DuckDB oracle results for the fixed corpus
    inputs. The oracles take about two minutes, so the results are kept
    in ``perfbench/golden/`` (committed) or ``perfbench/cache/`` (built on
    first use), under a name that hashes the oracle SQL and the input
    generator: a changed oracle or generator is rebuilt, never reused.
    The build runs in a child process, so DuckDB's memory never counts
    toward ``peak_rss_gb``."""
    import __spark_entry__ as entry
    import inputs

    sql = entry.oracle_sql()
    digest = hashlib.sha256(
        json.dumps(
            [CORPUS_SEED, N_DOCS, N_VECS, WARM_DOCS]
            # the SQL names the fixture by its absolute path: hash it without
            + [sql[n].replace(ROOT, "<root>") for n in CORPUS_ORACLES.values()]
            + [inspect.getsource(f) for f in (inputs.documents, inputs.embeddings)]
        ).encode()
    ).hexdigest()[:12]
    name = f"corpus-{digest}.json"
    path = os.path.join(GOLDEN, name)
    if not os.path.exists(path):
        path = os.path.join(CACHE, name)
    if not os.path.exists(path):
        start_child(build_corpus_expected, path)[1]()
    with open(path) as f:
        return json.load(f)


def build_corpus_expected(path: str) -> None:
    import duckdb

    import __spark_entry__ as entry
    from checks import pandas_fingerprint

    sql = {k: entry.oracle_sql()[n] for k, n in CORPUS_ORACLES.items()}
    # MATERIALIZED: evaluate the verified-pairs CTE once instead of once
    # per step of the recursive components CTE (same rows, ~10x faster)
    sql["dedup"] = sql["dedup"].replace("mh_pairs AS (", "mh_pairs AS MATERIALIZED (", 1)
    with tempfile.TemporaryDirectory() as d:
        write_corpus_inputs(d)
        # spill inside the run's directory, and leave the host most of its memory
        con = duckdb.connect(config={"temp_directory": d, "memory_limit": "4GB"})
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(d, t + '.parquet')}')")
        media = con.sql(sql["media_decode"]).df()
        ann = con.sql(sql["ann"]).df()
        expected = {
            "media_decode": pandas_fingerprint(media, Corpus.MEDIA_COLS)[()],
            "media_frames": pandas_fingerprint(con.sql(sql["media_frames"]).df(), Corpus.FRAME_COLS)[()],
            "dedup": pandas_fingerprint(con.sql(sql["dedup"]).df(), Corpus.DEDUP_COLS)[()],
            "ann": sorted(
                (int(q), int(r), int(n))
                for q, r, n in ann[["query_id", "rank", "neighbor_id"]].itertuples(index=False)
            ),
        }
        docs = os.path.join(d, "documents.parquet")
        con.sql(f"CREATE OR REPLACE VIEW documents AS SELECT * FROM read_parquet('{docs}') WHERE doc_id < {WARM_DOCS}")
        expected["dedup_warm"] = pandas_fingerprint(con.sql(sql["dedup"]).df(), Corpus.DEDUP_COLS)[()]
        con.close()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".part", "w") as f:
        json.dump(expected, f)
    os.rename(path + ".part", path)


WORKLOAD_CLASSES = {"osm": Osm, "corpus": Corpus}


# ---------------------------------------------------------------------------
# the loop
# ---------------------------------------------------------------------------


def rounds(wl: Workload, seed: int):
    """Endless rounds, each one call of every kind in a seeded order."""
    import numpy as np

    rng = np.random.default_rng([seed, 8])
    while True:
        yield [wl.kinds[i] for i in rng.permutation(len(wl.kinds))]


def timed_call(wl: Workload, kind: str, request: int, samples: dict | None) -> None:
    t0 = time.perf_counter()
    try:
        split = wl.call(kind, request)
    except Exception as exc:
        wl.ledger.error(kind, exc)
        return
    dt = time.perf_counter() - t0
    if samples is not None:
        for name, wall in (split or {kind: dt}).items():
            samples.setdefault(name, []).append(wall)


def run_loop(wl: Workload, seconds: float, seed: int, first_request: int = 0) -> dict:
    """Closed loop: the next call starts when the previous one returns,
    until ``seconds`` have passed, and at least one full round. Returns
    {sample name: [wall seconds]}."""
    samples: dict[str, list] = {}
    request = first_request
    deadline = time.perf_counter() + seconds
    for r, kinds in enumerate(rounds(wl, seed)):
        for kind in kinds:
            if r and time.perf_counter() >= deadline:
                return samples
            timed_call(wl, kind, request, samples)
            request += 1


def warm(wl: Workload) -> dict[str, float]:
    """One untimed call of each kind in ``warm_kinds`` (default: every
    kind): JIT, code generation and Python worker start-up happen here,
    not in the measured loop. Results are still checked. Returns each
    kind's warm-up call time."""
    out = {}
    for i, kind in enumerate(getattr(wl, "warm_kinds", wl.kinds)):
        t = time.perf_counter()
        timed_call(wl, kind, -1 - i, None)
        out[kind] = time.perf_counter() - t
    return out


def end_to_end(wl: Workload, samples: dict, setup_s: float, peak_rss: float) -> tuple[dict, dict]:
    """(metrics for the result line, the same under their workload names)."""
    # a kind with no successful call reads as infinitely slow (rate 0)
    med = defaultdict(lambda: float("inf"))
    med.update({k: statistics.median(v) for k, v in samples.items()})
    named = wl.named_metrics(med)
    metrics = {"setup_s": setup_s, "peak_rss_gb": peak_rss / 1e9}
    for i, (_, value) in enumerate(named[:4], start=1):
        metrics[f"op{i}_per_s"] = value
    return metrics, dict(named)


def tail_latency(walls: list[float]) -> dict:
    """Median and the highest percentile with at least ten samples beyond
    it (none below twenty samples)."""
    walls = sorted(walls)
    n = len(walls)
    out = {"n": n, "p50_s": statistics.median(walls) if walls else None, "tail_s": None, "tail_pct": None}
    if n >= 20:
        pct = 100 * (n - 10) / n
        out["tail_pct"] = pct
        out["tail_s"] = walls[n - 11]
    return out


def run(args, tmp: str) -> dict:
    import checks
    import layers

    ledger = checks.Ledger()
    cls = WORKLOAD_CLASSES[args.workload]
    with layers.RssSampler() as rss:
        t0 = time.perf_counter()
        spark = start_session(tmp)
        session_s = time.perf_counter() - t0
        wl = cls(spark, layers.Tracer(None), ledger, args.seed, tmp)
        wl.prepare()
        reps = []
        for _ in range(SETUP_REPS if not args.trace else 1):
            t = time.perf_counter()
            wl.setup()
            reps.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(reps)
        # the references are built while the (untimed) warm-up runs, in a
        # child whose memory the sampler leaves out
        pid, references = start_child(cls.references, args.seed)
        rss.exclude.add(pid)
        warm_s = warm(wl)
        ledger.references.update(references())
        seconds = args.seconds if not args.trace else args.seconds / 2
        samples = run_loop(wl, seconds, args.seed)
        untraced, named = end_to_end(wl, samples, setup_s, rss.peak_bytes)
        t = time.perf_counter()
        ledger.settle(wl.reference)
        check_s = time.perf_counter() - t

        info = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "setup": {"session_s": session_s, "data_reps_s": reps},
            "phases_s": {"warm_up": warm_s, "loop": sum(map(sum, samples.values())), "checks": check_s},
            "calls": {k: len(v) for k, v in samples.items()},
            "metrics": {k: {"value": v, "unit": _unit_of(k)} for k, v in named.items()},
        }
        if "single" in samples:
            info["extract.single"] = tail_latency(samples["single"])

        if args.trace:
            # second half in a fresh context with the event log on (it is
            # read at context start); the workload object keeps its seeded
            # streams and its references. The warm-up round runs untagged,
            # so the fold leaves it out.
            stop_session()
            event_dir = os.path.join(tmp, "events")
            wl.spark = start_session(tmp, event_dir)
            tracer = layers.Tracer(wl.spark)
            wl.tracer, wl.cached = tracer, []
            wl.setup()
            wl.tracer = layers.Tracer(None)
            warm(wl)
            wl.tracer, wl.out_rows = tracer, {}
            traced_samples = run_loop(wl, seconds, args.seed, first_request=len(wl.kinds))
            traced, _ = end_to_end(wl, traced_samples, 0.0, 0.0)
            ledger.settle(wl.reference)
            stop_session()
            logs = glob.glob(os.path.join(event_dir, "*"))
            folded = layers.fold_event_log(logs[0]) if logs else {}
            walls: dict[str, list[float]] = {}
            for s in tracer.spans:
                site = s["name"].rsplit(".", 1)[-1]
                if site in layers.CALL_SITES:
                    walls.setdefault(site, []).append(s["end"] - s["start"])
            layer = layers.per_layer_metrics(folded, walls, wl.out_rows, wl.sizes)
            info["trace_overhead"] = {
                k: {"untraced": untraced[k], "traced": traced[k], "traced_minus_untraced": traced[k] - untraced[k]}
                for k in untraced if k.startswith("op")
            }
            os.makedirs(OUT, exist_ok=True)
            stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
            tracer.write(stem + ".spans.jsonl")
            with open(stem + ".layers.json", "w") as f:
                json.dump({"per_layer": layer, "event_log_groups": folded}, f, indent=1)
            metrics = {k: {"value": v, "unit": _unit_of(k)} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in untraced.items()}

    info["failed_ratio"] = {
        "value": ledger.failed / max(1, ledger.attempted),
        "failed": ledger.failed,
        "attempted": ledger.attempted,
    }
    info["failures"] = ledger.failures
    emit("bench", info)
    return {
        "correct": ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }


def _unit_of(name: str) -> str:
    suffix = name.rsplit(".", 1)[-1]
    return {
        "wall_s": "s", "cpu_s": "s", "offcpu_s": "s", "gc_s": "s", "shuffle_mb": "MB",
        "spill_mb": "MB", "jobs": "count", "tasks": "count", "yield": "ratio",
        "bytes_per_entity": "B",
    }.get(suffix, "1/s")


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isdir(os.path.join(ROOT, "osm_lib_spark")) or not os.path.isdir(FIXTURE):
        print(f"error: the engine (osm_lib_spark/) and fixtures/sf-s/ must sit next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.makedirs(os.path.join(HERE, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(HERE, "tmp"))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    adopt_orphans()
    try:
        result = run(args, tmp)
    finally:
        # a second SIGTERM must not cut the clean-up short
        signal.signal(signal.SIGTERM, signal.SIG_IGN)
        try:
            shutdown_jvm()
        finally:
            reap_children()
            shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
