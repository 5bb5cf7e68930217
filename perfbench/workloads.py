"""The benchmark workloads: seeded inputs, expected results and one job.

Each workload is a closed loop with one client: the runner calls
``job`` again only after the previous call returned. A job returns the
number of input documents it validated and a list of mismatches against
the oracle (empty when its output is correct). ``inp`` is what
``prepare`` returned plus ``work``, a scratch directory emptied for
each run. ``tr`` is the tracer of ``trace.py``; with tracing off every
``tr`` call is a plain pass-through.

Calls into the package go through module attributes (``plan_mod.
compile_schema``, ``dedup_mod.near_dup_components``, ...) so that the
traced run can wrap them from outside (see ``TRACED``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np

from perfbench import gen, oracle
from perfbench.trace import streaming_progress

from pyspark.sql import functions as F

import jvst_spark.compiler.plan as plan_mod
import jvst_spark.io.manifest as manifest_mod
import jvst_spark.ops.dedup as dedup_mod
import jvst_spark.streaming.stateful_dedup as stream_mod
import jvst_spark.table_checks.drift as drift_mod
import jvst_spark.table_checks.referential as ref_mod
import jvst_spark.table_checks.suite as suite_mod
import jvst_spark.table_checks.uniqueness as uniq_mod
from jvst_spark.io.spans import FLAGSHIP_SPEC, materialize_spans, media_catalog
from jvst_spark.queries import _dup_corpus

# (owner, attribute, layer) wrapped in the traced run
TRACED = [
    (plan_mod, "compile_schema", "spec"),
    (plan_mod.ValidationPlan, "apply_typed", "compiler"),
    (manifest_mod.CheckpointedValidation, "run", "io"),
    (suite_mod, "suite_report", "table_checks"),
    (dedup_mod, "minhash_lsh_dedup", "ops"),
    (dedup_mod, "near_dup_components", "ops"),
    (stream_mod, "streaming_duplicates", "streaming"),
]


def _cached(cache: str, key: str, build) -> dict:
    """Run ``build(dir)`` once per key; its returned dict (inputs +
    expected results) is stored as ``inputs.json``, written last."""
    d = os.path.join(cache, f"{key}-v{gen.GEN_VERSION}")
    meta = os.path.join(d, "inputs.json")
    if os.path.exists(meta):
        with open(meta) as f:
            return json.load(f)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    out = build(d)
    with open(meta + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(meta + ".tmp", meta)
    return out


class Workload:
    name = ""
    # untimed jobs in set-up: the cold one, plus more where the JIT keeps
    # the next jobs measurably slow (see each workload)
    WARMUP_JOBS = 1

    def prepare(self, seed: int, cache: str) -> dict:
        raise NotImplementedError

    def job(self, spark, inp: dict, tr, i: int) -> tuple[int, list]:
        raise NotImplementedError

    def after_job(self, spark, inp: dict, tr, i: int) -> None:
        """Untimed per-job work: traced-run readings, then cleanup."""


def _bucket_of(c):
    """The doc-id suffix % 8 bucket of val_resume_metrics, which the
    by-bucket oracle replays."""
    return (F.substring(c, 5, 12).cast("bigint") % 8).cast("bigint")


class TypedBatch(Workload):
    name = "typed_batch"
    # the second and third jobs of a fresh JVM still run ~40% and ~20%
    # over steady state while the JIT compiles (measured walls 5.6, 4.9,
    # 4.1, 3.8, 3.6 s)
    WARMUP_JOBS = 3
    N_DOCS = 10_000
    N_FILES = 8
    N_BUCKETS = 8
    DUP_MOD = 41

    def prepare(self, seed, cache):
        def build(d):
            docs = os.path.join(d, "documents.parquet")
            gen.write(gen.documents(seed, self.N_DOCS), docs)
            gen.spans_files(docs, os.path.join(d, "spans"), self.N_FILES)
            dup_rem = seed % self.DUP_MOD
            return {
                "spans": os.path.join(d, "spans"),
                "dup_rem": dup_rem,
                "docs": self.N_DOCS,
                "expected": oracle.typed_batch(docs, self.DUP_MOD, dup_rem),
            }

        return _cached(cache, f"{self.name}-n{self.N_DOCS}-s{seed}", build)

    def job(self, spark, inp, tr, i):
        exp = inp["expected"]
        bad = []
        df = spark.read.parquet(inp["spans"])
        spec = plan_mod.compile_schema(FLAGSHIP_SPEC)
        plan = plan_mod.ValidationPlan(spec)
        res = plan.apply_typed(df)
        row = tr.action(
            "aggregate",
            res.frame.agg(
                F.count("*"),
                F.sum(F.col("valid").cast("long")),
                F.sum(F.size("_violations").cast("long")),
            ),
        )[0]
        totals = [int(x) for x in row]
        bad += oracle.compare("aggregate", exp["totals"], totals)

        out = os.path.join(inp["work"], f"ckpt-{i}")
        fp = f"typed_batch:{inp['spans']}"
        for attempt, want_skip in (("checkpoint", False), ("resume", True)):
            cv = manifest_mod.CheckpointedValidation(
                plan, out, n_buckets=self.N_BUCKETS, bucket_expr=_bucket_of
            )
            got = cv.run(df, fp)
            bad += oracle.compare(
                attempt,
                exp["buckets"],
                {str(r.bucket): [r.n_docs, r.n_valid, r.n_violations] for r in got},
            )
            skipped = sum(r.skipped for r in got)
            if skipped != (self.N_BUCKETS if want_skip else 0):
                bad.append(f"{attempt}: {skipped} of {self.N_BUCKETS} buckets skipped")
            sums = [sum(getattr(r, k) for r in got) for k in ("n_docs", "n_valid", "n_violations")]
            bad += oracle.compare(f"{attempt} manifest totals", totals, sums)

        with tr.span("table_checks", "suite"):
            ids = df.select("doc_id")
            num = F.substring("doc_id", 5, 12).cast("bigint")
            dups = ids.unionAll(ids.filter(num % self.DUP_MOD == inp["dup_rem"]))
            refs = materialize_spans(df).select(F.explode("spans").alias("s")).select(
                F.col("s.media_ref").alias("media_ref")
            )
            sizes = df.select(F.size("spans").alias("n_spans"), (num % 2).alias("half"))
            halves = [
                drift_mod.histogram(sizes.filter(F.col("half") == h), "n_spans", 10.0)
                for h in (0, 1)
            ]
            report = suite_mod.suite_report(
                [
                    suite_mod.count_check("dup_keys", uniq_mod.duplicate_keys(dups, "doc_id")),
                    suite_mod.count_check(
                        "dangling_media",
                        ref_mod.dangling_refs(refs, "media_ref", media_catalog(spark), "media_ref"),
                    ),
                    suite_mod.threshold_check(
                        "psi_halves",
                        drift_mod.psi(*halves).select(F.round("psi", 6).alias("psi")),
                        "psi",
                        oracle.PSI_LIMIT,
                    ),
                ]
            )
            rows = tr.action("suite", report)
        got = {
            r["check_name"]: [
                r["metric"] if r["check_name"] == "psi_halves" else r["n_bad"],
                r["passed"],
            ]
            for r in rows
        }
        bad += oracle.compare("suite", exp["suite"], got)
        return inp["docs"], bad

    def after_job(self, spark, inp, tr, i):
        out = os.path.join(inp["work"], f"ckpt-{i}")
        if tr.recording:
            files = [p for p in glob.glob(f"{out}/**", recursive=True) if os.path.isfile(p)]
            tr.count("io.files_written", len(files), job=i)
            tr.count("io.written_mb", sum(os.path.getsize(p) for p in files) / 1e6, job=i)
        shutil.rmtree(out, ignore_errors=True)


class Dedup(Workload):
    name = "dedup"
    N_DOCS = 1_000
    N_IDS = 2_000
    N_FILES = 4
    STREAM_TIMEOUT_S = 120
    WARM_OFFSET = 100  # warm-up jobs have negative indexes; view names may not

    def prepare(self, seed, cache):
        def build(d):
            docs = os.path.join(d, "documents.parquet")
            gen.write(gen.documents(seed, self.N_DOCS), docs)
            base = gen.id_offset(seed + 1, self.N_IDS)
            arr = os.path.join(d, "arrivals")
            parts = gen.arrivals(seed, np.arange(base, base + self.N_IDS), self.N_FILES)
            for k, t in enumerate(parts):
                gen.write(t, os.path.join(arr, f"part-{k}.parquet"))
            return {
                "dir": d,
                "arrivals": arr,
                "docs": self.N_DOCS + sum(t.num_rows for t in parts),
                "expected": oracle.dedup(docs, arr),
            }

        return _cached(cache, f"{self.name}-n{self.N_DOCS}-i{self.N_IDS}-s{seed}", build)

    def job(self, spark, inp, tr, i):
        exp = inp["expected"]
        pairs = dedup_mod.minhash_lsh_dedup(_dup_corpus(spark, inp["dir"]), threshold=0.7)
        self._pairs = pairs
        comps = dedup_mod.near_dup_components(pairs)
        got = {str(r["doc_id"]): r["component_id"] for r in tr.action("components", comps)}
        bad = oracle.compare("components", exp["components"], got)

        name = self._name = f"pb_dedup_{i + self.WARM_OFFSET}"
        with tr.span("streaming", "run") as s:
            arrivals = (
                spark.readStream.schema("doc_id string")
                .option("maxFilesPerTrigger", 1)
                .parquet(inp["arrivals"])
            )
            q = (
                stream_mod.streaming_duplicates(arrivals)
                .writeStream.format("memory")
                .queryName(name)
                .option("checkpointLocation", os.path.join(inp["work"], name))
                .trigger(availableNow=True)
                .start()
            )
            if s is not None:
                tr.group_alias[str(q.runId)] = s.id
            if not q.awaitTermination(self.STREAM_TIMEOUT_S):
                q.stop()
                bad.append(f"stream did not finish within {self.STREAM_TIMEOUT_S}s")
            rows = tr.action("stream_result", spark.table(name))
        got_dups = sorted(f"{r['doc_id']}:{r['n_seen']}" for r in rows)
        bad += oracle.compare("stream_dups", exp["stream_dups"], got_dups)
        self._query = q
        return inp["docs"], bad

    def after_job(self, spark, inp, tr, i):
        name = self._name
        if tr.recording:
            tr.count("ops.pairs", self._pairs.count(), job=i)
            progress = [json.loads(p.json) for p in self._query.recentProgress]
            for k, v in streaming_progress(progress).items():
                tr.count(k, v, job=i)
        spark.catalog.dropTempView(name)
        shutil.rmtree(os.path.join(inp["work"], name), ignore_errors=True)


WORKLOADS = {w.name: w for w in (TypedBatch, Dedup)}
