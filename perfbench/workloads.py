"""The workloads. Each drives the engine only through its public
functions, checks every output against an answer from :mod:`gen`, and
records one latency sample per timed operation.

A workload is used in this order: ``generate`` (inputs and expected
answers, untimed, in a child process that saves them), ``setup`` (part of
``setup_s``, once per process), ``warm`` (untimed), ``timed`` (the measured
loop), ``layers`` (traced runs only), then ``load_expected``, ``verify`` and
``metrics``. Spans are recorded from ``timed`` on. The expected answers are
loaded only after the engine has stopped, so the run's memory holds only
what the engine uses while it is sampled.
"""

from __future__ import annotations

import gzip
import json
import pickle
import random
import statistics
import threading
import time
from collections import Counter
from pathlib import Path

import gen
from harness import busy_ratio, layer_counters

FAMILIES = ("agg", "cdc", "dedup", "join", "ml", "mm", "sim", "stream", "text", "ts", "window")

# operator_mix's query list, pinned here so registry edits cannot change the
# workload: one `bench=True` headline query per operator family.
PINNED_QUERIES = (
    "agg_pricing_summary",
    "cdc_table_diff",
    "dedup_minhash_lsh_pairs",
    "join_shipping_priority",
    "ml_kmeans_assign",
    "mm_pcm_resample",
    "sim_topk_bruteforce",
    "stream_quality_gate_twin",
    "text_word_freq_top20",
    "ts_sessionization",
    "window_topk_per_customer",
)


def count_for(seconds: float, op_s: float) -> int:
    """How many operations of about ``op_s`` seconds fill ``seconds``.

    Runs size their work from ``--seconds`` and a fixed per-operation time
    (measured at 4 cores) rather than from a clock, so every run with the
    same ``--seconds`` does the same number of operations: a faster run is
    shorter, not longer and warmer.
    """
    return max(1, round(seconds / op_s))


class Failure(Exception):
    """An operation returned a wrong answer."""


class Workload:
    name = ""
    clients = 1

    def __init__(self, work: Path, seed: int, cpus: int, tracer) -> None:
        self.work, self.seed, self.cpus, self.tracer = work, seed, cpus, tracer
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.latencies: list[float] = []
        self.loop_wall = 0.0
        self.info: dict = {}

    def fail(self, what: str, exc: BaseException, ops: int = 1) -> None:
        """Count ``ops`` failed operations and record why."""
        self.failed += ops
        self.errors.append(f"{what}: {type(exc).__name__}: {exc}"[:500])

    def save(self, plan: dict, expected: dict) -> None:
        """Keep what the run needs (``plan``) apart from the answers."""
        for name, obj in (("plan", plan), ("expected", expected)):
            with open(self.work / f"{name}.pickle", "wb") as fh:
                pickle.dump(obj, fh)

    def load(self, name: str) -> None:
        with open(self.work / f"{name}.pickle", "rb") as fh:
            self.__dict__.update(pickle.load(fh))

    def load_plan(self) -> None:
        self.load("plan")

    def load_expected(self) -> None:
        self.load("expected")

    def attempt(self, what: str, fn, *args):
        """Run one operation; a raised exception counts as one failed op."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception as exc:  # one bad op must not abort the run
            self.fail(what, exc)
            return None

    def check(self, what: str, fn, *args) -> None:
        """Verify one operation's output; a wrong answer counts as failed."""
        try:
            fn(*args)
        except Exception as exc:
            self.fail(what, exc)

    def layers(self, spark) -> None:
        """Traced runs only: direct calls into single layers."""

    def layer_metrics(self, groups: dict) -> dict[str, float]:
        return {}


# ---------------------------------------------------------- ingest_search ---


class IngestSearch(Workload):
    """The reference's core job, then the chemistry it feeds.

    Phase 1 ingests a molecule library — PubChem-style SDF archives and a
    ZINC-style tranche — into gzip NDJSON with ``run_ingestion`` (1 client).
    The last output is then canonicalized, deduplicated, fingerprinted and
    persisted as a search library. Phase 2 serves top-k Tanimoto searches
    against the cached library (2 clients).
    """

    name = "ingest_search"
    N_ENTRIES, RESPELL, N_QUERIES = 12_000, 0.3, 600
    N_ARCHIVES, TRANCHE, MALFORMED, BATCH = 12, 0.2, 0.04, 1000
    TOP_K = 10
    WARM_SEARCHES = 3  # per client, untimed, before the timed searches
    # seconds per ingestion (with its resume) and per search at 4 cores;
    # 40 % of --seconds goes to ingesting, 60 % to searching
    INGEST_S, SEARCH_S, INGEST_SHARE = 2.0, 1.2, 0.4
    clients = 2

    @property
    def inputs(self) -> Path:
        return self.work / "inputs"

    def generate(self) -> None:
        entries, queries, mols = gen.molecule_library(self.seed, self.N_ENTRIES, self.RESPELL, self.N_QUERIES)
        by_file, base_of, stats = gen.ingest_inputs(
            self.inputs, self.seed, entries, mols, self.N_ARCHIVES, self.TRANCHE, self.MALFORMED
        )
        files = sorted(by_file)
        n_distinct = len(set(base_of.values()))
        plan = {
            "files": files,
            "queries": queries,
            "stats": dict(stats),
            "n_expected": sum(sum(by_file[f].values()) for f in files),
            "info": {
                "inputs": dict(stats),
                "input_bytes": sum(p.stat().st_size for p in self.inputs.rglob("*") if p.is_file()),
                "library_entries": len(base_of),
                "distinct_molecules": n_distinct,
                "queries": len(queries),
            },
        }
        self.save(plan, {"by_file": by_file, "base_of": base_of, "n_distinct": n_distinct})

    def load_expected(self) -> None:
        super().load_expected()
        self.expected = sum((self.by_file[f] for f in self.files), Counter())

    def config(self, tag: str):
        from open_molecule_data_pipeline_spark.plans.config import IngestionJobConfig

        root = self.work / "runs" / tag
        paths = {src: [str(self.inputs / f) for f in self.files if f.startswith(src + "/")] for src in ("pubchem", "zinc")}
        return IngestionJobConfig(
            output_dir=str(root / "out"),
            checkpoint_dir=str(root / "ckpt"),
            batch_size=self.BATCH,
            sources=[
                {"type": "pubchem", "name": "pubchem", "options": {"paths": paths["pubchem"]}},
                {"type": "zinc", "name": "zinc", "options": {"paths": paths["zinc"]}},
            ],
        )

    def setup(self, spark) -> dict:
        from open_molecule_data_pipeline_spark.sources.smiles_table import read_smiles_table

        read_smiles_table(spark, str(self.inputs / "zinc"), source="zinc").count()
        return {}

    # -- phase 1: ingestion

    def ingest(self, spark, tag: str):
        from open_molecule_data_pipeline_spark.plans.runner import run_ingestion

        cfg = self.config(tag)
        with self.tracer.span("plans.runner.parse"):
            t0 = time.perf_counter()
            summaries = run_ingestion(spark, cfg, mode="parse")
            wall = time.perf_counter() - t0
        return cfg, summaries, wall

    @staticmethod
    def snapshot(cfg) -> list[tuple[str, int, int]]:
        out = Path(cfg.output_dir)
        return sorted((str(p.relative_to(out)), p.stat().st_size, p.stat().st_mtime_ns) for p in out.glob("*/part-*"))

    def read_output(self, out_dir: Path) -> tuple[Counter, int]:
        """Read gzip NDJSON back, checking each object against MOLECULE_SCHEMA."""
        from open_molecule_data_pipeline_spark.functions.molecule import MOLECULE_SCHEMA

        fields = sorted(f.name for f in MOLECULE_SCHEMA.fields)
        got, total_bytes = Counter(), 0
        for path in sorted(out_dir.glob("*/part-*")):
            total_bytes += path.stat().st_size
            with gzip.open(path, "rt", encoding="utf-8") as fh:
                lines = fh.read().splitlines()
            if len(lines) > self.BATCH:
                raise Failure(f"{path.name} holds {len(lines)} records > batch_size {self.BATCH}")
            for line in lines:
                rec = json.loads(line)
                if sorted(rec) != fields or not isinstance(rec["source"], str):
                    raise Failure(f"record does not match MOLECULE_SCHEMA: {line[:200]}")
                meta = rec["metadata"] or {}
                if not all(isinstance(k, str) and isinstance(v, str) for k, v in meta.items()):
                    raise Failure(f"metadata is not map<string,string>: {line[:200]}")
                if "source_file" in meta:
                    meta["source_file"] = meta["source_file"].rsplit("/", 1)[-1]
                got[(rec["source"], rec["identifier"], rec["smiles"], tuple(sorted(meta.items())))] += 1
        return got, total_bytes

    def verify_output(self, cfg, summaries) -> float:
        """Check one ingestion's output; return its bytes per record."""
        expected = self.expected
        got, nbytes = self.read_output(Path(cfg.output_dir))
        if got != expected:
            missing, extra = expected - got, got - expected
            raise Failure(f"output differs: {sum(missing.values())} missing, {sum(extra.values())} unexpected; "
                          f"e.g. missing {list(missing)[:1]} unexpected {list(extra)[:1]}")
        written = sum(s.records_written for s in summaries)
        if written != sum(expected.values()):
            raise Failure(f"summaries report {written} records, expected {sum(expected.values())}")
        if not (Path(cfg.output_dir) / "raw-data-report.md").exists():
            raise Failure("raw-data-report.md missing")
        return nbytes / written

    def verify_resume(self, cfg, first, resumed, files_before) -> None:
        _, summaries, _ = resumed
        if [(s.name, s.records_written, s.total_batches) for s in summaries] != [
            (s.name, s.records_written, s.total_batches) for s in first
        ]:
            raise Failure("resume run reports different counts")
        if not all(s.completed for s in summaries):
            raise Failure("resume run left a source incomplete")
        if self.snapshot(cfg) != files_before:
            raise Failure("resume run rewrote output files")

    # -- phase 2: library build and search

    def build(self, spark, ndjson: Path):
        """Build the search library from ``ndjson``, persist it, and return
        it read back and cached."""
        from pyspark.sql import functions as F

        from open_molecule_data_pipeline_spark.functions.molecule import (
            MOLECULE_SCHEMA,
            ngram_fingerprint,
            smiles_descriptors,
            with_canonical_smiles,
        )
        from open_molecule_data_pipeline_spark.sinks.ndjson import read_ndjson

        t0 = time.perf_counter()
        records = read_ndjson(spark, [str(ndjson / "pubchem"), str(ndjson / "zinc")], MOLECULE_SCHEMA)
        lib = with_canonical_smiles(records.filter(F.col("smiles") != ""), engine="subset")
        lib = lib.groupBy("canonical_smiles").agg(F.sort_array(F.collect_list("identifier")).alias("aliases"))
        lib = smiles_descriptors(lib, "canonical_smiles").withColumn("fp", ngram_fingerprint("canonical_smiles"))
        lib.write.mode("overwrite").parquet(str(self.library_dir))
        self.build_s = time.perf_counter() - t0
        lib = spark.read.parquet(str(self.library_dir)).select("canonical_smiles", "fp")
        lib = lib.filter(F.col("canonical_smiles").isNotNull()).cache()
        lib.count()
        return lib

    def verify_library(self) -> None:
        import pyarrow.parquet as pq

        table = pq.read_table(self.library_dir, columns=["canonical_smiles", "aliases", "fp"]).to_pylist()
        null_canonical = sum(1 for r in table if r["canonical_smiles"] is None)
        if null_canonical:
            raise Failure(f"{null_canonical} library groups have no canonical form")
        if len(table) != self.n_distinct:
            raise Failure(f"library has {len(table)} molecules, expected {self.n_distinct} distinct")
        self.canonical_of: dict[int, str] = {}
        for r in table:
            bases = {self.base_of[i] for i in r["aliases"]}
            if len(bases) != 1:
                raise Failure(f"{r['canonical_smiles']} merges distinct molecules {sorted(bases)[:3]}")
            base = bases.pop()
            if base in self.canonical_of:
                raise Failure(f"molecule {base} has two canonical forms")
            self.canonical_of[base] = r["canonical_smiles"]
            mask = gen.fingerprint(r["canonical_smiles"])
            want = [b for b in range(256) if mask >> b & 1]
            if r["fp"] != want:
                raise Failure(f"fingerprint of {r['canonical_smiles']} is {r['fp']}, expected {want}")
        if sum(len(r["aliases"]) for r in table) != len(self.base_of):
            raise Failure("library aliases do not cover every ingested molecule exactly once")
        self.ref_library = [(r["canonical_smiles"], gen.fingerprint(r["canonical_smiles"])) for r in table]
        self.lib_set = {s for s, _ in self.ref_library}

    def search(self, spark, smiles: str):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from open_molecule_data_pipeline_spark.functions.molecule import (
            ngram_fingerprint,
            tanimoto,
            with_canonical_smiles,
        )

        with self.tracer.span("functions.molecule.search") as span:
            lib = self.lib
            if span is not None:  # traced runs count the library rows each search scores
                scored = Observation(f"scored-{span['id']}")
                lib = lib.observe(scored, F.count(F.lit(1)).alias("n"))
            q = with_canonical_smiles(spark.createDataFrame([(smiles,)], "smiles string"), engine="subset")
            q = q.select(F.col("canonical_smiles").alias("q_smiles"), ngram_fingerprint("canonical_smiles").alias("q_fp"))
            rows = (
                lib.crossJoin(F.broadcast(q))
                .select("q_smiles", "canonical_smiles", tanimoto(F.col("q_fp"), F.col("fp")).alias("sim"))
                .orderBy(F.desc("sim"), "canonical_smiles")
                .limit(self.TOP_K)
                .collect()
            )
            if span is not None:
                span["scored"] = scored.get["n"]
        return rows

    def verify_search(self, qi: int, rows) -> None:
        smiles, base = self.queries[qi]
        q_smiles = rows[0]["q_smiles"] if rows else None
        in_library = self.canonical_of.get(base) if base is not None else None
        if in_library is not None and q_smiles != in_library:
            raise Failure(f"query {smiles} canonicalized to {q_smiles}, library has {in_library}")
        if in_library is None and q_smiles in self.lib_set:
            raise Failure(f"query {smiles} of a molecule absent from the library matched {q_smiles}")
        want = gen.top_k(gen.fingerprint(q_smiles), self.ref_library, self.TOP_K)
        got = [(r["canonical_smiles"], r["sim"]) for r in rows]
        if got != want:
            raise Failure(f"top-{self.TOP_K} for {smiles} differs: got {got[:2]} expected {want[:2]}")

    # -- the run

    def warm(self, spark) -> None:
        self.warm_result = self.attempt("warm-up ingest", self.ingest, spark, "warm")

    def timed(self, spark, seconds: float) -> None:
        # phase 1: ingestion, closed loop, 1 client; each op is re-run as a
        # resume, which must skip every source
        self.ops = []
        start = time.perf_counter()
        for i in range(count_for(seconds * self.INGEST_SHARE, self.INGEST_S)):
            tag = f"op{i}"
            result = self.attempt(f"{tag} ingest", self.ingest, spark, tag)
            if result:
                cfg, summaries, wall = result
                files = self.snapshot(cfg)
                resumed = self.attempt(f"{tag} resume", self.ingest, spark, tag)
                self.ops.append((tag, cfg, summaries, wall, resumed, files))
        self.info.update(ingest_walls_s=[op[3] for op in self.ops], ingest_loop_s=time.perf_counter() - start)
        # untimed and untraced: build the search library from the last
        # ingestion's output and cache it
        self.library_dir = self.work / "library.parquet"
        self.lib = self.build_s = None
        if self.ops:
            with self.tracer.paused():
                self.lib = self.attempt("library build", self.build, spark, Path(self.ops[-1][1].output_dir))
        self.info["build_s"] = self.build_s
        # phase 2: searches, closed loop, 2 clients
        self.results: list[tuple[int, list]] = []
        n = count_for(seconds * (1 - self.INGEST_SHARE), self.SEARCH_S) * self.clients
        if self.lib is None:  # nothing to search: every search fails
            self.attempted += n
            self.fail("searches", Failure("no search library was built"), n)
            return
        with self.tracer.paused():  # untimed: the last queries warm the concurrent path
            self.serve(spark, range(len(self.queries) - self.WARM_SEARCHES * self.clients, len(self.queries)), False)
        self.loop_wall = self.serve(spark, range(n), True)

    def serve(self, spark, numbers: range, timed: bool) -> float:
        """Closed loop: each client searches its share of the query
        ``numbers`` one after another. Returns the wall time."""
        lock = threading.Lock()

        def client(c: int) -> None:
            for qi in numbers[c :: self.clients]:
                t0 = time.perf_counter()
                rows = self.attempt(f"search {qi}", self.search, spark, self.queries[qi][0])
                wall = time.perf_counter() - t0
                if rows is not None:
                    with lock:
                        self.results.append((qi, rows))
                        if timed:
                            self.latencies.append(wall)

        start = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,), name=f"client-{c}") for c in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return time.perf_counter() - start

    def verify(self) -> None:
        if self.warm_result:
            self.check("warm-up ingest output", self.verify_output, *self.warm_result[:2])
        self.out_bytes: list[float] = []
        for tag, cfg, summaries, _wall, resumed, files in self.ops:
            try:
                self.out_bytes.append(self.verify_output(cfg, summaries))
            except Exception as exc:
                self.fail(f"{tag} output", exc)
            if resumed:
                self.check(f"{tag} resume", self.verify_resume, cfg, summaries, resumed, files)
        if self.lib is None:
            return
        try:
            self.verify_library()
        except Exception as exc:  # the searches cannot be checked without it
            self.fail("library", exc)
            return
        for qi, rows in self.results:
            self.check(f"search {qi}", self.verify_search, qi, rows)

    def metrics(self) -> dict:
        return {
            "records_per_s": statistics.median(self.n_expected / op[3] for op in self.ops) if self.ops else float("nan"),
            "output_bytes_per_record": statistics.median(self.out_bytes) if self.out_bytes else float("nan"),
        }

    # -- traced runs: direct calls into single layers

    def layers(self, spark) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from open_molecule_data_pipeline_spark.functions import chem
        from open_molecule_data_pipeline_spark.functions.molecule import (
            ngram_fingerprint,
            smiles_descriptors,
            with_canonical_smiles,
        )
        from open_molecule_data_pipeline_spark.sinks.ndjson import write_ndjson
        from open_molecule_data_pipeline_spark.sinks.report import SourceSummary, summarize_directory, write_report
        from open_molecule_data_pipeline_spark.sources.sdf import read_sdf_records
        from open_molecule_data_pipeline_spark.sources.smiles_table import read_smiles_table

        self.layer_out = {}
        sdf = lambda: read_sdf_records(spark, str(self.inputs / "pubchem" / "*.sdf.gz"), source="pubchem")  # noqa: E731
        tsv = lambda: read_smiles_table(spark, str(self.inputs / "zinc"), source="zinc")  # noqa: E731
        for layer, make in (("sources.sdf", sdf), ("sources.smiles_table", tsv)):
            obs = Observation(layer)
            with self.tracer.span(layer):
                make().observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
            self.layer_out[layer] = obs.get["n"]
        frame = sdf().unionByName(tsv()).cache()
        frame.count()
        sink = self.work / "runs" / "sink"
        with self.tracer.span("sinks.ndjson"):
            write_ndjson(frame, str(sink), batch_size=self.BATCH)
        obs = Observation("canonical")
        with self.tracer.span("functions.molecule.canonicalize"):
            with_canonical_smiles(frame.filter(F.col("smiles") != ""), engine="subset").observe(
                obs, F.count(F.lit(1)).alias("n"), F.count_if(F.col("canonical_smiles").isNull()).alias("nulls")
            ).write.format("noop").mode("overwrite").save()
        self.canonical_obs = obs.get
        frame.unpersist()
        files = list(sink.glob("part-*"))
        self.layer_out["sinks.ndjson.files"] = len(files)
        self.layer_out["sinks.ndjson.bytes"] = sum(p.stat().st_size for p in files)
        with self.tracer.span("sinks.report"):
            summary = SourceSummary(name="sink", type="pubchem", completed=True, output=summarize_directory(sink, ("*.json*",)))
            write_report([summary], sink / "raw-data-report.md")
        sample = [s for s, _ in random.Random(self.seed).sample(self.queries, 200)]
        with self.tracer.span("functions.chem.canonical", n=len(sample)):
            for s in sample:
                chem.canonical_smiles(s)
        canon = spark.read.parquet(str(self.library_dir)).select("canonical_smiles").cache()
        canon.count()
        with self.tracer.span("functions.molecule.fingerprint"):
            smiles_descriptors(canon, "canonical_smiles").withColumn(
                "fp", ngram_fingerprint("canonical_smiles")
            ).write.format("noop").mode("overwrite").save()
        canon.unpersist()
        info = [i for i in spark.sparkContext._jsc.sc().getRDDStorageInfo() if i.numPartitions()]
        self.cached_fraction = (
            sum(i.numCachedPartitions() for i in info) / sum(i.numPartitions() for i in info) if info else 0.0
        )

    def layer_metrics(self, groups: dict) -> dict:
        out = {}
        sdf = layer_counters(self.tracer, groups, "sources.sdf")
        out["sources.sdf.read_s"] = sdf["wall_s"]
        out["sources.sdf.records_per_s"] = self.layer_out["sources.sdf"] / sdf["wall_s"]
        out["sources.sdf.tasks"] = sdf["tasks"]
        out["sources.sdf.busy_ratio"] = busy_ratio(sdf, self.cpus)
        out["sources.sdf.kept_ratio"] = self.layer_out["sources.sdf"] / self.stats["sdf_generated"]
        smi = layer_counters(self.tracer, groups, "sources.smiles_table")
        out["sources.smiles_table.read_s"] = smi["wall_s"]
        out["sources.smiles_table.kept_ratio"] = self.layer_out["sources.smiles_table"] / self.stats["tsv_generated"]
        out["sinks.ndjson.write_s"] = layer_counters(self.tracer, groups, "sinks.ndjson")["wall_s"]
        out["sinks.ndjson.files"] = self.layer_out["sinks.ndjson.files"]
        out["sinks.ndjson.bytes_per_record"] = self.layer_out["sinks.ndjson.bytes"] / self.n_expected
        out["sinks.report.summarize_s"] = layer_counters(self.tracer, groups, "sinks.report")["wall_s"]
        out["plans.runner.parse_s"] = statistics.mean(op[3] for op in self.ops) if self.ops else float("nan")
        chem_span = next(s for s in self.tracer.spans if s["name"] == "functions.chem.canonical")
        search = layer_counters(self.tracer, groups, "functions.molecule.search")
        n = max(1, search["calls"])
        scored = sum(s.get("scored", 0) for s in self.tracer.named("functions.molecule.search"))
        out.update({
            "functions.chem.canonical_us_per_mol": (chem_span["end"] - chem_span["start"]) / chem_span["n"] * 1e6,
            "functions.molecule.canonicalize_s": layer_counters(self.tracer, groups, "functions.molecule.canonicalize")["wall_s"],
            "functions.molecule.canonical_null_ratio": self.canonical_obs["nulls"] / self.canonical_obs["n"],
            "functions.molecule.fingerprint_s": layer_counters(self.tracer, groups, "functions.molecule.fingerprint")["wall_s"],
            "functions.molecule.search_s": search["wall_s"] / n,
            "functions.molecule.scored_per_result": scored / (n * self.TOP_K),
            "functions.molecule.library_cached_fraction": self.cached_fraction,
            "functions.molecule.search_wait_s": search["wait_s"] / n,
        })
        return out


# ----------------------------------------------------------- operator_mix ---


class OperatorMix(Workload):
    """The pinned headline queries over a seeded star schema, closed loop."""

    name = "operator_mix"
    SCALE = 0.01
    PASS_S = 6.0  # seconds per pass of the pinned queries at 4 cores
    WARM_PASSES = 2  # untimed: the JVM is still compiling through the second

    @property
    def tables(self) -> Path:
        return self.work / "tables"

    def generate(self) -> None:
        """The tables, and each pinned query's DuckDB oracle answer over them,
        reduced as the repository's tests compare results."""
        from tests._compare import canon, run_oracle

        from open_molecule_data_pipeline_spark.registry import load_all

        rows = gen.star_schema(self.tables, self.seed, self.SCALE)
        expected = {}
        for name in PINNED_QUERIES:
            oracle = run_oracle(load_all()[name].oracle, str(self.tables))
            expected[name] = (sorted(oracle.columns), canon(oracle))
        self.save({"rows": rows, "info": {"rows": rows, "queries": list(PINNED_QUERIES)}}, {"expected": expected})

    def setup(self, spark) -> dict:
        from open_molecule_data_pipeline_spark.catalog import TABLES, table
        from open_molecule_data_pipeline_spark.registry import load_all

        t0 = time.perf_counter()
        self.specs = {n: load_all()[n] for n in PINNED_QUERIES}
        t1 = time.perf_counter()
        for name in TABLES:
            table(spark, str(self.tables), name).write.format("noop").mode("overwrite").save()
        return {"registry_load_s": t1 - t0, "warm_scan_s": time.perf_counter() - t1}

    def hygiene(self, spark) -> None:
        """Drop what the previous query cached, as the repo's bench does."""
        spark.catalog.clearCache()
        for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            jrdd.unpersist(False)

    def query(self, spark, name: str):
        family = name.split("_", 1)[0]
        with self.tracer.span(f"operators.{family}", query=name):
            t0 = time.perf_counter()
            with self.tracer.span(f"operators.{family}.build"):
                df = self.specs[name].fn(spark, str(self.tables))
            with self.tracer.span(f"operators.{family}.execute"):
                pdf = df.toPandas()
            wall = time.perf_counter() - t0
        return df, pdf, wall

    def warm(self, spark) -> None:
        self.input_rows = {}
        self.warm_results = []
        for name in PINNED_QUERIES * self.WARM_PASSES:
            self.hygiene(spark)
            result = self.attempt(f"warm-up {name}", self.query, spark, name)
            if result:
                df, pdf, _ = result
                self.warm_results.append((name, pdf))
                tables = {Path(f).name.split(".parquet")[0] for f in df.inputFiles()}
                self.input_rows[name] = sum(self.rows.get(t, 0) for t in tables)

    def timed(self, spark, seconds: float) -> None:
        rng = random.Random(self.seed)
        self.results = []
        start = time.perf_counter()
        # whole passes only, so every run times the same multiset of queries
        for _ in range(count_for(seconds, self.PASS_S)):
            order = list(PINNED_QUERIES)
            rng.shuffle(order)
            for name in order:
                self.hygiene(spark)
                t0 = time.perf_counter()
                result = self.attempt(name, self.query, spark, name)
                if result:
                    _, pdf, wall = result
                    self.latencies.append(wall)
                    self.results.append((name, pdf, wall))
                    self.info.setdefault("timed_walls", {}).setdefault(name, []).append(wall)
                else:
                    self.results.append((name, None, time.perf_counter() - t0))
        self.loop_wall = time.perf_counter() - start

    def verify_query(self, name: str, pdf) -> None:
        from tests._compare import canon

        columns, want = self.expected[name]
        if sorted(pdf.columns) != columns:
            raise Failure(f"{name}: columns {sorted(pdf.columns)} vs oracle {columns}")
        got = canon(pdf)
        if got != want:
            diff = [(a, b) for a, b in zip(got, want) if a != b][:2]
            raise Failure(f"{name}: {len(got)} rows vs oracle {len(want)}; first diffs {diff}")

    def verify(self) -> None:
        import pyarrow as pa

        for name, pdf in self.warm_results:
            self.check(f"warm-up {name}", self.verify_query, name, pdf)
        self.out_bytes = self.out_rows = 0
        for name, pdf, _ in self.results:
            if pdf is not None:
                self.check(name, self.verify_query, name, pdf)
                self.out_bytes += pa.Table.from_pandas(pdf, preserve_index=False).nbytes
                self.out_rows += len(pdf)

    def metrics(self) -> dict:
        rows_in = sum(self.input_rows.get(n, 0) for n, pdf, _ in self.results if pdf is not None)
        wall = sum(w for _, pdf, w in self.results if pdf is not None)
        return {
            "records_per_s": rows_in / wall if wall else float("nan"),
            "output_bytes_per_record": self.out_bytes / max(1, self.out_rows),
        }

    def layer_metrics(self, groups: dict) -> dict:
        out = {
            "catalog.warm_scan_s": self.setup_info["warm_scan_s"],
            "registry.load_all_s": self.setup_info["registry_load_s"],
        }
        for family in FAMILIES:
            p = f"operators.{family}"
            c = layer_counters(self.tracer, groups, p)
            n = max(1, c["calls"])
            out.update({
                f"{p}.build_s": layer_counters(self.tracer, groups, f"{p}.build")["wall_s"] / n,
                f"{p}.execute_s": layer_counters(self.tracer, groups, f"{p}.execute")["wall_s"] / n,
                f"{p}.jobs": c["jobs"] / n,
                f"{p}.stages": c["stages"] / n,
                f"{p}.tasks": c["tasks"] / n,
                f"{p}.busy_ratio": busy_ratio(c, self.cpus),
                f"{p}.shuffle_bytes": c["shuffle_bytes"] / n,
                f"{p}.spill_bytes": c["spill_bytes"] / n,
            })
        return out


WORKLOADS = {w.name: w for w in (IngestSearch, OperatorMix)}
