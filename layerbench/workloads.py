"""The three workloads. Each drives only the package's public calls and times
them from outside; NOTES.md says why each exists and what it measures.

A workload has three parts. ``prepare`` writes its seeded inputs (run
several times, to time set-up); ``warm`` finishes set-up (kg_serve's base
fixpoint); ``run`` is the timed client loop. Every operation of the loop is
checked against the models in inputs.py: an exception, a wrong answer or a
breached limit fails it."""

from __future__ import annotations

import glob
import os
import sys
import time
import traceback
import zlib

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

from arachne_spark.engine import FixpointEngine
from arachne_spark.facade import Reasoner
from arachne_spark.kg import gen_code_files, gen_entity_dict
from arachne_spark.kg.pipeline import build_triples
from arachne_spark.owlrl import indirect_type_rule, owl_rl_core
from arachne_spark.rules import RuleSet
from arachne_spark.sources.ntriples import read_ntriples, write_ntriples

import inputs as I

SCHEMA = "s string, p string, o string"
QUERY_KINDS = ("types", "is_entailed", "instances", "sparql")

# "bench" is what BENCHMARK.json runs, "tiny" is the smoke test's and "ref"
# is bench.py's headline size (sf0.1), too slow for BENCHMARK.json's budget
# of 48 runs in 3420 s (NOTES.md).
# Seed 0 replays bench.py's inputs at the same sf: tpch_owl's asserted set is
# its kg_materialize input, code_kg's corpus its kg_extract_link input at
# sf0.1. ``serve_sf`` is kg_serve's base; an update adds 3 x update_cust + 1
# triples; kg_serve sends at least ``min_updates`` updates and
# ``serve_queries`` queries (100 leave 10 samples beyond p90; the bench size
# sends 64, what a run's time budget allows).
SIZES = {
    "bench": dict(sf=0.01, files=10_000, serve_sf=0.001, update_cust=133,
                  min_updates=2, serve_queries=64, batch_queries={"tpch_owl": 32, "code_kg": 24}),
    "tiny": dict(sf=0.001, files=300, serve_sf=0.001, update_cust=20,
                 min_updates=3, serve_queries=12, batch_queries={"tpch_owl": 4, "code_kg": 4}),
    "ref": dict(sf=0.1, files=10_000, serve_sf=0.1, update_cust=133,
                min_updates=2, serve_queries=100, batch_queries={"tpch_owl": 32, "code_kg": 12}),
}
# bench.py's kg_materialize invariants: (facts, rounds, inferred triples)
REFERENCE_GATE = {("ref", 0): (379_614, 3, 214_373)}


def owl_rules() -> RuleSet:
    return RuleSet(list(owl_rl_core()) + [indirect_type_rule()])


def read_export(path: str) -> set[str]:
    out: set[str] = set()
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, encoding="utf-8") as fh:
            out.update(line.rstrip("\n") for line in fh)
    return out


def crc_checksum(lines) -> int:
    return sum(zlib.crc32(x.encode("utf-8")) for x in lines)


def spark_crc_checksum(df) -> tuple[int, int]:
    """(count, sum of CRC-32 over the N-Triples lines): order-insensitive,
    and equal to ``len``/``crc_checksum`` of the same lines in Python."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws(" ", "s", "p", "o", F.lit(".")))).alias("c"),
    ).collect()[0]
    return row["n"], row["c"] or 0


def write_nt(path: str, triples) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.writelines(I.nt_line(t) + "\n" for t in triples)


class Client:
    """Counts operations and keeps the timings of the ones that passed."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.wrong = 0  # failed by raising or by a wrong answer
        self.errors: list[str] = []
        self.query_ms: dict[str, list[float]] = {k: [] for k in QUERY_KINDS}

    def fail(self, what: str, wrong: bool = True) -> None:
        self.failed += 1
        self.wrong += wrong
        if len(self.errors) < 20:
            self.errors.append(what)
        print(f"layerbench: operation failed: {what}", file=sys.stderr)

    def op(self, name: str, fn, expected=None):
        """Run one operation; returns (ok, value, seconds)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            value = fn()
        except Exception:  # an operation that raises is a failed operation
            self.fail(f"{name} raised:\n{traceback.format_exc()}")
            return False, None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if expected is not None and value != expected:
            self.fail(f"{name}: got {_short(value)}, expected {_short(expected)}")
            return False, value, dt
        return True, value, dt


def _short(v) -> str:
    s = repr(sorted(v) if isinstance(v, set) else v)
    return s if len(s) < 300 else s[:300] + "..."


class Workload:
    name = ""

    def __init__(self, spark, tracer, work: str, size: str, seed: int,
                 session_s: float) -> None:
        self.spark = spark
        self.session_s = session_s  # the run's JVM start and first job
        self.tr = tracer
        self.work = work
        self.size = size
        self.p = SIZES[size]
        self.seed = seed
        self.client = Client()
        self.rng = np.random.default_rng(10_000 + seed)
        self.engine = FixpointEngine(spark, owl_rules())
        self.walls: list[float] = []  # timed iterations / updates
        self.bounds: list[tuple[float, float]] = []  # (start, end) of each
        # RoundMetrics of each timed materialize / update (only its own)
        self.round_metrics: list[list] = []
        self.last = None  # FixpointResult of the last timed operation
        self.gates: dict[str, bool] = {}
        self.record: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def query(self, rs: Reasoner, kind: str, timed: bool = True) -> None:
        """One facade query, checked against the model. Untimed queries warm
        the query plans' code generation."""
        args, expected = self.make_query(kind)
        fns = {
            "types": lambda: {r[0] for r in rs.types(*args).collect()},
            "is_entailed": lambda: rs.is_entailed(*args),
            "instances": lambda: rs.instances(*args).count(),
            "sparql": lambda: {r[0] for r in rs.sparql(args[0]).collect()},
        }
        with self.tr.span("facade", kind):
            ok, _, dt = self.client.op(f"{kind}{args}", fns[kind], expected)
        if ok and timed:
            self.client.query_ms[kind].append(dt * 1000.0)

    def warm(self) -> None:
        """Set-up after the inputs are written; nothing by default."""

    def warm_queries(self, rs: Reasoner) -> None:
        for kind in QUERY_KINDS:
            self.query(rs, kind, timed=False)


class Batch(Workload):
    """Shared loop of the two batch workloads: iterations until the time is
    up (at least one), then a fixed batch of facade queries on the last
    result. The first iteration runs in a fresh JVM, as every run of the
    reference CLI does, so it is timed like the others."""

    def run(self, seconds: float) -> None:
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < seconds or not self.bounds:
            if not self.iteration():
                break
        if self.last is not None:
            rs = Reasoner.from_result(self.last)
            # a fresh JVM answers the first few queries of each kind slower
            # while the JIT settles; two untimed rounds keep that out
            for _ in range(2):
                self.warm_queries(rs)
            for i in range(self.p["batch_queries"][self.name]):
                self.query(rs, QUERY_KINDS[i % len(QUERY_KINDS)])

    def iteration(self) -> bool:
        self.client.attempted += 1
        t0 = time.perf_counter()
        try:
            res = self.pipeline()
        except Exception:
            self.client.fail(f"iteration raised:\n{traceback.format_exc()}")
            return False
        t1 = time.perf_counter()
        self.bounds.append((t0, t1))
        self.walls.append(t1 - t0)
        self.round_metrics.append(res.metrics)
        self.last = res
        got = read_export(self.path("export"))
        self.record["export_records"] = len(got)
        if got != self.expected_inferred:
            self.client.fail(
                f"export differs from the model: {len(got - self.expected_inferred)} "
                f"unexpected, {len(self.expected_inferred - got)} missing"
            )
        return True


class TpchOwl(Batch):
    """The reference CLI flow: N-Triples in, OWL-RL fixpoint in string mode,
    inferred-only N-Triples out."""

    name = "tpch_owl"

    def prepare(self) -> None:
        self.data = I.TpchData(self.p["sf"], self.seed)
        write_nt(self.path("asserted.nt"), self.data.asserted())

    def build_model(self) -> None:
        self.model = I.TpchModel(self.data)
        self.expected_facts = self.model.facts()
        self.expected_inferred = self.expected_facts - {
            I.nt_line(t) for t in self.data.asserted()
        }
        self.customers = sorted(self.model.nation)

    def pipeline(self):
        with self.tr.span("sources", "read_ntriples"):
            df = read_ntriples(self.spark, self.path("asserted.nt"))
        with self.tr.span("engine", "materialize"):
            res = self.engine.materialize(df)
        with self.tr.span("sources", "write_ntriples"):
            write_ntriples(res.inferred_only(), self.path("export"))
        return res

    def make_query(self, kind: str) -> tuple:
        return tpch_query(self.model, self.customers, self.rng, kind)

    def gate(self) -> None:
        res = self.last
        self.gates["facts_count"] = res.facts_count == len(self.expected_facts)
        exp = REFERENCE_GATE.get((self.size, self.seed))
        if exp is not None:
            got = (res.facts_count, res.rounds, self.record.get("export_records"))
            self.gates["bench_py_invariants"] = got == exp
            self.record["bench_py_invariants"] = list(got)


def tpch_query(model: I.TpchModel, inds: list[str], rng, kind: str) -> tuple:
    """(args, expected answer) of one query on a random individual/class."""
    x = inds[int(rng.integers(0, len(inds)))]
    if kind == "types":
        return (x[1:-1],), model.types(x)[0]
    if kind == "is_entailed":
        c = f"<nat{int(rng.integers(0, I.N_NATIONS))}>"
        return (x, I.TYPE, c), c in model.types(x)[0]
    if kind == "instances":
        n = int(rng.integers(0, I.N_NATIONS))
        return (f"nat{n}",), model.instances(n)
    q = f"SELECT ?o WHERE {{ ?o {I.LINKED_TO} {x} . ?o {I.HAS_CUST} {x} }}"
    return (q,), model.linked(x)


class CodeKg(Batch):
    """KG construction: a seeded code corpus through extraction, linking and
    canonicalization, staged once, materialized on dictionary ids, decoded
    on export."""

    name = "code_kg"
    # order-insensitive checksums (id facts, term dictionary) per seed at the
    # bench size, recorded from runs whose export matched the model
    RECORDED: dict[int, tuple[int, int]] = {
        0: (56975364227366, 11437537134416),
        1: (57129636078930, 11369749977027),
        2: (56993665402804, 11442453703638),
        3: (56858084942543, 11338474274911),
        4: (57082183743013, 11343319117322),
        5: (56811896475053, 11305645600641),
        6: (56837227891597, 11382606781980),
        7: (57274739543143, 11391380176901),
        8: (57144260448346, 11468028427426),
        9: (56899683333746, 11442082012806),
    }

    def __init__(self, *args) -> None:
        super().__init__(*args)
        # the corpus is below dict_threshold (1M rows); this workload exists
        # to measure the dictionary-encoded path, so it asks for it
        self.engine = FixpointEngine(self.spark, owl_rules(), dict_encode=True)

    def prepare(self) -> None:
        self.fids = I.code_fids(self.p["files"], self.seed)
        sel = self.spark.createDataFrame([(int(f),) for f in self.fids], "fid long")
        corpus = gen_code_files(self.spark, int(self.fids[-1]) + 1).withColumn(
            "fid", F.regexp_extract("path", r"/mod_(\d+)\.", 1).cast("long")
        )
        corpus.join(F.broadcast(sel), "fid").drop("fid").write.mode("overwrite").parquet(
            self.path("corpus")
        )
        gen_entity_dict(self.spark).write.mode("overwrite").parquet(self.path("entity_dict"))
        self.tbox = self.spark.createDataFrame(I.code_tbox(), SCHEMA)

    def build_model(self) -> None:
        asserted, self.expected_facts = I.code_model(self.fids)
        self.expected_inferred = self.expected_facts - asserted
        self.file_triples = [t for f in self.fids for t in I.code_file_triples(int(f))]
        self.file_set = set(self.file_triples)
        self.entities = sorted({o for _, _, o in self.file_triples})

    def pipeline(self):
        spark = self.spark
        with self.tr.span("sources", "read_parquet"):
            corpus = spark.read.parquet(self.path("corpus"))
            edict = spark.read.parquet(self.path("entity_dict"))
        with self.tr.span("kg", "build_triples"):
            obs = Observation()
            build_triples(corpus, edict, dedup=False).observe(
                obs, F.count(F.lit(1)).alias("n")
            ).write.mode("overwrite").parquet(self.path("staged"))
            self.record["kg_triples_out"] = obs.get["n"]
            asserted = spark.read.parquet(self.path("staged")).unionByName(self.tbox)
        with self.tr.span("engine", "materialize"):
            res = self.engine.materialize(asserted)
        with self.tr.span("sources", "write_ntriples"):
            write_ntriples(res.inferred_only(), self.path("export"))
        return res

    def make_query(self, kind: str) -> tuple:
        rng, C = self.rng, I.CODE
        if kind == "types":
            e = self.entities[int(rng.integers(0, len(self.entities)))]
            k = e[len(C) + 1:].split("/")[0]
            return (e[1:-1],), {f"{I.KIND}{c}>" for c in (k, "entity", "thing")}
        if kind == "is_entailed":
            f = self.file_triples[int(rng.integers(0, len(self.file_triples)))][0]
            g = f"<{C}func/Func_{int(rng.integers(0, 300))}>"
            return (f, f"<{C}dependsOn>", g), (f, f"<{C}calls>", g) in self.file_set
        if kind == "instances":
            k = ("class", "func", "module")[int(rng.integers(0, 3))]
            return (f"{C}Kind/{k}",), sum(1 for e in self.entities if f"/{k}/" in e)
        cls = f"<{C}class/Class_{int(rng.integers(0, 200))}>"
        q = f"SELECT ?f WHERE {{ ?f <{C}definesClass> {cls} . ?f <{C}dependsOn> ?g }}"
        defines = f"<{C}definesClass>"
        return (q,), {s for s, p, o in self.file_triples if p == defines and o == cls}

    def gate(self) -> None:
        res = self.last
        self.gates["facts_count"] = res.facts_count == len(self.expected_facts)
        P = F.lit(2147483647)
        ids = res.facts_ids.select(F.sum(F.pmod(F.xxhash64("s", "p", "o"), P))).collect()[0][0]
        terms = res.term_dict.select(F.sum(F.pmod(F.xxhash64("id", "term"), P))).collect()[0][0]
        got = (int(ids), int(terms))
        self.record["id_checksums"] = list(got)
        exp = self.RECORDED.get(self.seed) if self.size == "bench" else None
        if exp is not None:
            self.gates["recorded_id_checksums"] = got == exp


class KgServe(Workload):
    """Closed loop, one client: an incremental update, then queries on a
    facade over the updated result, repeated until the time is up and at
    least ``min_updates`` updates and ``serve_queries`` queries were sent.
    An update fails when it takes longer than recomputing from scratch in a
    fresh process: this run's session start plus the base's materialize in
    set-up. The client stops at the first failed update."""

    name = "kg_serve"

    def prepare(self) -> None:
        self.data = I.TpchData(self.p["serve_sf"], self.seed)
        write_nt(self.path("asserted.nt"), self.data.asserted())

    def build_model(self) -> None:
        self.model = I.TpchModel(self.data)
        self.record["plan_lines"] = []

    def warm(self) -> None:
        with self.tr.span("sources", "read_ntriples"):
            df = read_ntriples(self.spark, self.path("asserted.nt"))
        t0 = time.perf_counter()
        with self.tr.span("engine", "materialize"):
            self.base = self.engine.materialize(df)
        self.limit_s = self.session_s + time.perf_counter() - t0
        self.record["limit_s"] = self.limit_s

    def make_query(self, kind: str) -> tuple:
        return tpch_query(self.model, sorted(self.model.nation), self.rng, kind)

    def update(self, res, tag: int):
        """Apply one seeded write through ``incremental``. Returns the new
        result (None if the call raised) and whether it met the limit."""
        batch = I.tpch_update(self.model, self.rng, tag, self.p["update_cust"])
        df = self.spark.createDataFrame(batch, SCHEMA)
        t0 = time.perf_counter()
        with self.tr.span("engine", "incremental"):
            ok, new, wall = self.client.op(f"update {tag}", lambda: self.engine.incremental(res, df))
        if not ok:
            return None, False
        self.bounds.append((t0, time.perf_counter()))
        self.walls.append(wall)
        self.round_metrics.append(new.metrics[len(res.metrics):])
        self.record["plan_lines"].append(plan_lines(new.asserted))
        self.model.add(batch)
        if wall > self.limit_s:
            self.client.fail(
                f"update {tag} took {wall:.2f} s, over the limit of {self.limit_s:.2f} s",
                wrong=False,
            )
            return new, False
        return new, True

    def run(self, seconds: float) -> None:
        res = self.base
        per_update = -(-self.p["serve_queries"] // self.p["min_updates"])
        updates = queries = 0
        t0 = time.perf_counter()
        while (
            time.perf_counter() - t0 < seconds
            or updates < self.p["min_updates"]
            or queries < self.p["serve_queries"]
        ):
            new, in_time = self.update(res, updates)
            updates += 1
            res = new or res
            if not in_time:
                break
            with self.tr.span("facade", "from_result"):
                rs = Reasoner.from_result(res)
            for _ in range(per_update):
                self.query(rs, QUERY_KINDS[queries % len(QUERY_KINDS)])
                queries += 1
        # the client stopped early: what it left unsent counts as failed
        unsent = max(0, self.p["min_updates"] - updates)
        unsent += max(0, self.p["min_updates"] * per_update - queries)
        self.client.attempted += unsent
        self.client.failed += unsent
        self.record["updates"], self.record["unsent"] = updates, unsent
        self.last = res

    def gate(self) -> None:
        """The incremental facts equal the model's fixpoint of the base plus
        every applied update (an independent fresh materialize), by count
        and checksum."""
        got = spark_crc_checksum(self.last.facts)
        exp = self.model.facts()
        self.gates["incremental_equals_model"] = got == (len(exp), crc_checksum(exp))
        self.record["facts_checksum"] = list(got)


def plan_lines(df) -> int:
    """Lines of the parsed logical plan (the first block of explain(True))."""
    return len(df._jdf.queryExecution().logical().toString().splitlines())


WORKLOADS = {w.name: w for w in (TpchOwl, CodeKg, KgServe)}
