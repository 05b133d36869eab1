"""The workloads. Each builds its inputs from the seed, loads them
through the program's public functions, and runs one operation per
iteration whose outputs are all materialized and checked against the
oracles in oracle.py.

A workload defines:
  generate()        seeded inputs on disk (no Spark)
  load(spark)       read (and cache) the input: part of set-up
  iterate(i)        the timed operation; returns its outputs
  release(out)      drop what the iteration cached (outside the timing)
  verify(out)       problems found in the outputs (empty when correct)
  layers()          per-layer readings for the traced run

BENCHMARK.json runs transcripts_suite and json_documents. The
checkpoint_resume and near_dup_text workloads run as probes inside the
traced json_documents run (see PROBES in run.py and the README), and
each can still be run on its own by name.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import time

import gen
import harness
import oracle
import suites

# Input sizes, fixed so that one run fits its time budget on a 4-core
# host; the seed changes the contents, never the size.
SIZES = {
    "transcripts_suite": {"rows": 100_000, "files": 8, "rate": 0.001},
    "checkpoint_resume": {"rows": 20_000, "files": 4, "rate": 0.004, "files_per_batch": 2},
    "json_documents": {"docs": 12_000, "files": 8},
    "near_dup_text": {"docs": 5_000, "families": 50, "family_size": 4},
}
LSH_THRESHOLD = 0.7
# MinHash with 64 permutations estimates Jaccard with a standard error
# of at most 0.0625; a reported pair may sit 4 of those below the
# threshold on its exact Jaccard.
LSH_TOLERANCE = 0.25


class Workload:
    name = ""
    ops_per_iteration = 1

    def __init__(self, env, tracer, seed: int):
        self.env, self.tracer, self.seed = env, tracer, seed
        self.size = SIZES[self.name]
        self.spark = None
        self.jvm = None
        self.rows_per_iteration = 0
        self.problems: list[str] = []  # found by layers()

    def path(self, *parts: str) -> str:
        d = self.env.path(self.name)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, *parts)

    def span(self, name: str):
        return self.tracer.span(name)

    def release(self, out) -> None:
        pass

    def layers(self) -> dict:
        return {}


class TranscriptsSuite(Workload):
    """One-shot run_suite over a cached transcript table."""

    name = "transcripts_suite"

    def generate(self) -> None:
        self.data = gen.transcripts(self.path("transcripts"), self.size["rows"], self.seed,
                                    self.size["rate"], self.size["files"])
        self.tools_path = gen.write_tools_vocab(self.path("tools.parquet"))
        self.ref_path = gen.role_reference(self.path("role_ref.parquet"), self.data.n_rows)
        self.rows_per_iteration = self.data.n_rows

    def load(self, spark) -> None:
        from hjsonschema_spark.sources.tables import read_table

        self.spark = spark
        with self.span("sources.read"):
            self.df = read_table(spark, self.path("transcripts")).cache()
            self.df.count()
        self.vocab = {"tools": read_table(spark, self.tools_path), "role_ref": read_table(spark, self.ref_path)}
        self._oracle = None

    @property
    def oracle(self) -> dict:
        if self._oracle is None:
            self._oracle = oracle.transcript_oracle(self.data.files, self.tools_path, self.ref_path)
        return self._oracle

    def run_suite(self, suite):
        """run_suite with every output materialized: violations first
        (fills the engine's caches), then verdicts, then summary()."""
        from hjsonschema_spark.checks import run_suite

        with self.span("checks.engine.build"):
            res = run_suite(self.df, suite, vocab_tables=self.vocab, persist=True)
        with self.span("checks.engine.violations"):
            viols = res.violations.collect()
        with self.span("checks.engine.verdicts"):
            verdicts = res.verdicts.collect()
        with self.span("checks.engine.summary"):
            summary = res.summary()
        return res, viols, verdicts, summary

    def iterate(self, i: int):
        return self.run_suite(suites.transcript_suite())

    def release(self, out) -> None:
        out[0].unpersist(blocking=True)

    def verify(self, out) -> list[str]:
        _, viols, verdicts, summary = out
        got = oracle.violation_rows(viols)
        problems = oracle.diff_violations(got, self.oracle["violations"])
        problems += oracle.missing_planted(got, self.data.planted)
        problems += oracle.check_verdicts(verdicts, self.oracle)
        if summary["n_violations"] != len(viols):
            problems.append(f"summary counts {summary['n_violations']} of {len(viols)} violations")
        return problems

    def layers(self) -> dict:
        """Per-family walls, job/task/shuffle counts, plan exchanges, and
        one CLI validate subprocess over the same table."""
        m = {}
        group = "perfbench-suite"
        self.spark.sparkContext.setJobGroup(group, "full suite")
        res = self.run_suite(suites.transcript_suite())[0]
        self.spark.sparkContext.setJobGroup("perfbench-other", "other")
        plans = [res.violations, res.verdicts]
        m["checks.engine.plan_exchanges"] = sum(_exchanges(d) for d in plans)
        self.release((res,))
        jobs = self.jvm.jobs_in_group(group)
        m["checks.engine.spark_jobs"] = jobs["jobs"]
        m["checks.engine.tasks"] = jobs["tasks"]
        m["checks.engine.shuffle_bytes_per_row"] = jobs["shuffle_write_bytes"] / self.rows_per_iteration
        m["checks.engine.spill_bytes"] = jobs["spill_bytes"]
        full = self.tracer.spans[-4:]
        full_wall = full[-1]["end"] - full[0]["start"]
        fam_total = 0.0
        for fam in ("row", "ordered", "group", "ref_join", "drift"):
            walls = []
            for _ in range(2):  # the first builds and compiles the family's plan
                t0 = time.perf_counter()
                out = self.run_suite(suites.transcript_suite(only=fam))
                walls.append(time.perf_counter() - t0)
                self.release(out)
                self.jvm.full_gc()
            name = {"row": "row_pass", "ordered": "ordered_pass", "group": "group_pass",
                    "ref_join": "ref_join", "drift": "drift"}[fam]
            m[f"checks.compile.{name}_s"] = walls[-1]
            fam_total += walls[-1]
        m["checks.compile.fusion_ratio"] = fam_total / full_wall
        m["cli.validate_s"] = self._cli_validate()
        return m

    def _cli_validate(self) -> float:
        suite_path = self.path("suite.json")
        with open(suite_path, "w") as f:
            f.write(suites.transcript_suite().to_json())
        cmd = [sys.executable, "-m", "hjsonschema_spark", "validate",
               "--table", self.path("transcripts"), "--suite", suite_path,
               "--vocab", f"tools={self.tools_path}", "--vocab", f"role_ref={self.ref_path}",
               "--out", self.path("cli-out"), "--cores", str(self.env.cores)]
        with self.span("cli.validate") as s:
            proc = subprocess.Popen(cmd, cwd=self.env.root, env={**os.environ, **self.env.spark_env()},
                                    stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                                    start_new_session=True)
            _, err = proc.communicate(timeout=150)
        harness.wait_session_gone(proc.pid)  # the CLI's JVM outlives it briefly
        if proc.returncode not in (0, 1):
            raise RuntimeError(f"CLI exited {proc.returncode}: {err[-2000:]}")
        return s.wall


class CheckpointResume(Workload):
    """CheckpointedRun interrupted after half the files, then resumed."""

    name = "checkpoint_resume"
    ops_per_iteration = 2

    def generate(self) -> None:
        self.data = gen.transcripts(self.path("transcripts"), self.size["rows"], self.seed,
                                    self.size["rate"], self.size["files"])
        self.tools_path = gen.write_tools_vocab(self.path("tools.parquet"))
        self.ref_path = gen.role_reference(self.path("role_ref.parquet"), self.data.n_rows)
        self.rows_per_iteration = self.data.n_rows
        self.fpb = self.size["files_per_batch"]
        self.first_batches = self.size["files"] // self.fpb // 2

    def load(self, spark) -> None:
        from hjsonschema_spark.sources.tables import read_table

        self.spark = spark
        with self.span("sources.read"):
            self.vocab = {"tools": read_table(spark, self.tools_path).cache(),
                          "role_ref": read_table(spark, self.ref_path).cache()}
            for v in self.vocab.values():
                v.count()
        self._oracle = None

    @property
    def oracle(self) -> dict:
        if self._oracle is None:
            self._oracle = oracle.transcript_oracle(self.data.files, self.tools_path, self.ref_path)
        return self._oracle

    def iterate(self, i: int):
        from hjsonschema_spark.checks.checkpoint import CheckpointedRun

        store = self.path(f"store-{i}")
        suite = suites.transcript_suite()
        kw = dict(vocab_tables=self.vocab, files_per_batch=self.fpb)
        with self.span("checks.checkpoint.run"):
            first = CheckpointedRun(store).run(self.spark, self.path("transcripts"), suite,
                                               max_batches=self.first_batches, **kw)
        with self.span("checks.checkpoint.run"):
            second = CheckpointedRun(store).run(self.spark, self.path("transcripts"), suite, **kw)
        return store, first, second

    def release(self, out) -> None:
        shutil.rmtree(out[0], ignore_errors=True)

    def verify(self, out) -> list[str]:
        from hjsonschema_spark.checks.checkpoint import CheckpointedRun

        store, first, second = out
        ck = CheckpointedRun(store)
        viols = ck.violations(self.spark).select(*suites.KEYS, "check").collect()
        ledger = ck.checkpoints(self.spark).collect()
        got = oracle.violation_rows(viols)
        problems = oracle.diff_violations(got, self.oracle["violations"])
        problems += oracle.missing_planted(got, self.data.planted)
        n_files = len(self.data.files)
        done = [r for r in ledger if r["status"] == "done"]
        files = sorted(os.path.basename(f) for r in done for f in r["file_manifest"])
        if files != sorted(os.path.basename(f) for f in self.data.files):
            problems.append(f"done ledger rows cover {files}, not each of {n_files} files once")
        first_files = self.first_batches * self.fpb
        if first["remaining_files"] != n_files - first_files or second["skipped_files"] != first_files:
            problems.append(f"resume skipped {second['skipped_files']} files, first run finished {first_files}")
        if first["n_rows"] + second["n_rows"] != self.oracle["n_rows"]:
            problems.append(f"ledger rows {first['n_rows']}+{second['n_rows']} != {self.oracle['n_rows']}")
        return problems

    def layers(self) -> dict:
        """Batch wall, commit cost (batch wall minus a bare run_suite over
        the same files), ledger and committed-violation reads, bytes
        written, and job/task/shuffle counts of one iteration."""
        from hjsonschema_spark.checks import run_suite
        from hjsonschema_spark.checks.checkpoint import CheckpointedRun, check_version

        m = {}
        group = "perfbench-ckpt"
        self.spark.sparkContext.setJobGroup(group, "checkpointed run")
        out = self.iterate(0)
        self.spark.sparkContext.setJobGroup("perfbench-other", "other")
        self.problems += self.verify(out)
        jobs = self.jvm.jobs_in_group(group)
        m["checks.engine.spark_jobs"] = jobs["jobs"]
        m["checks.engine.tasks"] = jobs["tasks"]
        m["checks.engine.shuffle_bytes_per_row"] = jobs["shuffle_write_bytes"] / self.rows_per_iteration
        m["checks.engine.spill_bytes"] = jobs["spill_bytes"]
        store = out[0]
        ck = CheckpointedRun(store)
        ledger = ck.checkpoints(self.spark).filter("status = 'done'").collect()
        batch_walls = [r["wall_sec"] for r in ledger]
        m["checks.checkpoint.batch_s"] = sum(batch_walls) / len(batch_walls)
        bare = []
        for r in ledger:
            t0 = time.perf_counter()
            res = run_suite(self.spark.read.parquet(*r["file_manifest"]), suites.transcript_suite(),
                            vocab_tables=self.vocab, persist=True)
            res.violations.collect()
            res.verdicts.collect()
            res.summary()
            bare.append(time.perf_counter() - t0)
            res.unpersist(blocking=True)
        m["checks.checkpoint.commit_s"] = m["checks.checkpoint.batch_s"] - sum(bare) / len(bare)
        version = check_version(suites.transcript_suite())
        with self.span("checks.checkpoint.ledger_read") as s:
            ck.completed_files(self.spark, version)
        m["checks.checkpoint.ledger_read_s"] = s.wall
        with self.span("checks.checkpoint.committed_read") as s:
            ck.violations(self.spark).collect()
        m["checks.checkpoint.committed_read_s"] = s.wall
        m["checks.checkpoint.bytes_written_per_row"] = _dir_bytes(store) / self.rows_per_iteration
        self.release(out)
        return m


class JsonDocuments(Workload):
    """validate_json_column_auto on a liftable schema (columnar VARIANT
    path) and on one outside the subset (exact mapInPandas path)."""

    name = "json_documents"
    ops_per_iteration = 2

    def generate(self) -> None:
        self.docs, self.planted = gen.json_documents(self.size["docs"], self.seed)
        gen.write_documents(self.path("docs"), self.docs, self.size["files"])
        self.rows_per_iteration = 2 * len(self.docs)
        self._want = None
        self._paths_checked = False

    def load(self, spark) -> None:
        from hjsonschema_spark.sources.tables import read_table

        self.spark = spark
        with self.span("sources.read"):
            self.df = read_table(spark, self.path("docs")).cache()
            self.df.count()

    @property
    def want(self) -> dict:
        if self._want is None:
            self._want = {k: oracle.document_validity(self.docs, s)
                          for k, s in (("columnar", gen.SCHEMA_COLUMNAR), ("exact", gen.SCHEMA_EXACT))}
        return self._want

    def validate(self, schema: dict, registry: dict | None = None) -> list:
        from pyspark.sql import functions as F

        from hjsonschema_spark.draft4.columnar import validate_json_column_auto

        out = validate_json_column_auto(self.df, "doc", schema, registry=registry)
        return out.select(
            "doc_id", "_valid",
            F.transform("_failures_json", lambda f: F.concat_ws("|", f.keyword, f.instance_path,
                                                                f.schema_path)).alias("f"),
        ).collect()

    def iterate(self, i: int):
        with self.span("draft4.columnar"):
            columnar = self.validate(gen.SCHEMA_COLUMNAR)
        with self.span("draft4.udf"):
            exact = self.validate(gen.SCHEMA_EXACT)
        return columnar, exact

    def verify(self, out) -> list[str]:
        problems = []
        if not self._paths_checked:  # once per run, on the cold iteration's rows
            self._paths_checked = True
            problems += self.verify_paths_agree(out[0])
        for rows, key in zip(out, ("columnar", "exact")):
            problems += [f"{key}: {p}" for p in
                         oracle.diff_validity({r["doc_id"]: r["_valid"] for r in rows}, self.want[key])]
        return problems

    def verify_paths_agree(self, columnar_rows) -> list[str]:
        """The exact path on the liftable schema (a registry forces it)
        must agree with the columnar path row for row."""
        exact = {r["doc_id"]: (r["_valid"], sorted(r["f"]))
                 for r in self.validate(gen.SCHEMA_COLUMNAR, registry={})}
        bad = [r["doc_id"] for r in columnar_rows if exact.get(r["doc_id"]) != (r["_valid"], sorted(r["f"]))]
        return [] if not bad else [f"columnar and exact paths differ on {len(bad)} docs, e.g. {bad[:5]}"]

    def layers(self) -> dict:
        from pyspark.sql import functions as F

        from hjsonschema_spark.draft4 import Draft4Validator
        from hjsonschema_spark.draft4.columnar import validate_json_column_auto

        m = {}
        n = len(self.docs)
        with self.span("draft4.columnar") as s:
            self.validate(gen.SCHEMA_COLUMNAR)
        m["draft4.columnar.docs_per_s"] = n / s.wall
        with self.span("draft4.udf") as s:
            self.validate(gen.SCHEMA_EXACT)
        m["draft4.udf.docs_per_s"] = n / s.wall
        plan = validate_json_column_auto(self.df, "doc", gen.SCHEMA_COLUMNAR).select(
            "_valid", F.size("_failures_json"))._jdf.queryExecution().executedPlan().toString()
        m["draft4.columnar.plan_parse_calls"] = plan.count("parseJson(")
        import json as _json

        sample = [_json.loads(d) for d in self.docs[:5000] if _ok_json(d)]
        v = Draft4Validator(gen.SCHEMA_EXACT)
        with self.span("draft4.validator") as s:
            for d in sample:
                v.validate(d)
        m["draft4.validator.docs_per_s"] = len(sample) / s.wall
        return m


class NearDupText(Workload):
    """minhash_lsh_pairs, then connected_components over the pairs."""

    name = "near_dup_text"

    def generate(self) -> None:
        self.texts, self.families = gen.near_dup_corpus(
            self.size["docs"], self.seed, self.size["families"], self.size["family_size"])
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.table({"doc_id": pa.array(range(len(self.texts)), pa.int64()),
                                 "text": pa.array(self.texts, pa.string())}),
                       self.path("texts.parquet"))
        self.rows_per_iteration = len(self.texts)

    def load(self, spark) -> None:
        from hjsonschema_spark.sources.tables import read_table

        self.spark = spark
        with self.span("sources.read"):
            self.df = read_table(spark, self.path("texts.parquet")).cache()
            self.df.count()

    def iterate(self, i: int):
        from hjsonschema_spark.operators.dedup import connected_components, minhash_lsh_pairs

        with self.span("operators.dedup.lsh_pairs"):
            pairs_df = minhash_lsh_pairs(self.df, threshold=LSH_THRESHOLD).persist()
            pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.collect()]
        with self.span("operators.dedup.components"):
            clusters = {r["node"]: r["cluster_id"] for r in connected_components(pairs_df).collect()}
        return pairs_df, pairs, clusters

    def release(self, out) -> None:
        out[0].unpersist(blocking=True)

    def verify(self, out) -> list[str]:
        _, pairs, clusters = out
        return oracle.check_near_dups(self.texts, pairs, clusters, self.families,
                                      LSH_THRESHOLD, LSH_TOLERANCE)

    def layers(self) -> dict:
        out = self.iterate(0)
        self.problems += self.verify(out)
        self.release(out)
        return {"operators.dedup.lsh_pairs_s": self.tracer.spans[-2]["end"] - self.tracer.spans[-2]["start"],
                "operators.dedup.components_s": self.tracer.spans[-1]["end"] - self.tracer.spans[-1]["start"],
                "operators.dedup.pairs": len(out[1]),
                "operators.dedup.clusters": len(set(out[2].values()))}


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for ln in plan.splitlines() if "Exchange " in ln and "ReusedExchange" not in ln)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def _ok_json(s: str) -> bool:
    import json as _json

    try:
        _json.loads(s)
        return True
    except ValueError:
        return False


WORKLOADS = {w.name: w for w in (TranscriptsSuite, CheckpointResume, JsonDocuments, NearDupText)}
