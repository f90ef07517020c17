"""The benchmark's workloads: one timed operation each, its output check,
and the per-layer calls of the traced run.

Each operation is what a user of the engine runs: ``images_validate`` is
the CLI ``validate`` (``runner.validate``) over the image+caption table,
``docs_curate`` is ``curate.curation_decisions`` over a document corpus.
The traced run calls each layer's public functions on the same inputs,
one job group per layer, and forces each result with a ``noop`` write.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq

from pyspark.sql import Observation
from pyspark.sql import functions as F

# imported up front, so that no operation's time includes module imports
from invalid_spark import io, report, runner
from invalid_spark.checks import drift, image, refint, unique
from invalid_spark.checks import rows as rowchecks
from invalid_spark.dsl import load_rules
from invalid_spark.pipeline import curate, dedup
from invalid_spark.pipeline import text as T

# Layers whose span and job group the traced run reports in full (the
# runner, their remainder, is derived in run.py); "checks.image.arrow"
# is the same pixel check through its mapInArrow backend.
FULL_LAYERS = [
    "checks.rows", "checks.unique", "checks.refint", "checks.image",
    "checks.image.arrow", "checks.drift", "report",
    "pipeline.text", "pipeline.dedup",
]


def force(df) -> int:
    """Execute ``df`` with a ``noop`` write; return its row count."""
    obs = Observation("rows_out")
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
        "overwrite"
    ).save()
    return int(obs.get["n"])


class ImagesValidate:
    """Full ``runner.validate`` over the seeded image+caption table."""

    name = "images_validate"
    row_key = "image_id"
    # warm operations a run takes at least, whatever --seconds says,
    # after warmup_ops operations that are checked but not timed
    min_warm_ops = 2
    warmup_ops = 0
    RULES = """
image_id: {$type: $str, $reg: '^img-[0-9]{12}$', $unique: true}
w: {$type: $int, $range: {$min: 1, $max: 100000},
    $drift: {test: ks, threshold: 0.01, clip: [0.01, 0.99]}}
h: {$type: $int, $range: {$min: 1, $max: 100000}}
fmt: {$type: $str, $of: [png, jpeg, webp], $drift: {test: chi2, threshold: 0.01}}
caption: {$type: $str, $length: {$min: 1, $max: 10000}}
phash: {$type: $int, $unique: true}
license_id: {$type: $str, $ref: {table: licenses, key: license_id}}
bytes: {$type: $bin, $pixel: {psnr_min: 40.0}}
"""
    # layers whose work the operation contains (runner = the remainder)
    op_layers = [
        "dsl", "checks.rows", "checks.unique", "checks.refint",
        "checks.image", "checks.drift", "report", "io",
    ]

    def __init__(self, root: str, meta: dict, work: str) -> None:
        self.root, self.meta, self.work = root, meta, work
        self.table = os.path.join(root, "images")
        self.n_ops = 0

    @property
    def rows_per_op(self) -> int:
        return self.meta["rows"]

    def _read(self, spark, name):
        return spark.read.parquet(os.path.join(self.root, name))

    def op(self, spark):
        self.n_ops += 1
        out = os.path.join(self.work, f"out{self.n_ops}")
        rules = load_rules(self.RULES)
        return runner.validate(
            spark, self._read(spark, "images"), rules, self.row_key, out,
            dims={"licenses": self._read(spark, "licenses")},
            partition_col="shard",
            prev_df=self._read(spark, "images_prev"),
        )

    def check(self, spark, res) -> list[str]:
        """Compare the sinks, read with pyarrow rather than Spark."""
        def sink(name, cols=None):
            return pq.read_table(os.path.join(res.out_dir, name), columns=cols)

        bad = []
        types = sink("violations", ["error_type"]).column(0).to_pylist()
        got = {t: types.count(t) for t in set(types)}
        if got != self.meta["expected"]:
            bad.append(f"violations by type {got} != {self.meta['expected']}")
        d = sink("drift", ["column", "drifted"]).to_pydict()
        drift = dict(zip(d["column"], d["drifted"]))
        if drift != self.meta["drifted"]:
            bad.append(f"drift verdicts {drift} != {self.meta['drifted']}")
        n_verd = sink("verdicts", ["passed"]).num_rows
        if n_verd != self.meta["shards"] or not res.complete:
            bad.append(f"{n_verd} unit verdicts, complete={res.complete}")
        self._rows_out = len(types)
        return bad

    def rows_out(self, spark, res) -> int:
        return self._rows_out

    def discard(self, res) -> None:
        shutil.rmtree(res.out_dir, ignore_errors=True)

    def layers(self, spark, layer, last_res) -> dict:
        """Call each layer's public functions; ``layer(name)`` opens the
        layer's span and job group and returns a dict for its counts."""
        df = self._read(spark, "images")
        lic = self._read(spark, "licenses")
        prev = self._read(spark, "images_prev")
        rk = self.row_key
        with layer("dsl"):
            rules = load_rules(self.RULES)
            plan = rowchecks.compile_row_checks(df, rules)
        with layer("checks.rows") as c:
            c["rows_out"] = force(rowchecks.run_row_checks(df, rules, rk, plan=plan))
        with layer("checks.refint") as c:
            c["rows_out"] = force(
                refint.ref_violations(df, "license_id", lic, "license_id", rk)
            )
        for name, impl in (("checks.image", "pandas"), ("checks.image.arrow", "arrow")):
            with layer(name) as c:
                c["rows_out"] = force(image.pixel_violations(
                    df, rk, "bytes", psnr_min=40.0, impl=impl
                ))
        with layer("checks.unique") as c:
            c["rows_out"] = sum(
                force(unique.uniqueness_violations(df, col, rk))
                for col in plan.unique_cols
            )
        with layer("checks.drift") as c:
            specs = plan.drift_specs
            grids = drift.multi_grid(df, specs)
            res = drift.multi_drift(df, prev, specs, cur_grids=grids)
            force(drift.state_frame(df, specs, grids))
            c["rows_out"] = len(res)
        with layer("report") as c:
            v = last_res.violations(spark)
            c["rows_out"] = force(report.group_verdicts(df, v, "shard", rk)) + force(
                report.rule_metrics(v)
            )
        with layer("io"):
            io.snapshot_id(self.table)
            m = io.Manifest(os.path.join(self.work, "manifest-io"))
            for u in range(self.meta["shards"] + len(plan.unique_cols)):
                m.mark_done(f"u{u}", {"run_id": "trace"})
            m.done_units()
            m.read_meta()
        return {}


# curation_decisions' default accepted languages
LANGS = ("en", "de", "fr", "es", "zh")


class DocsCurate:
    """``curate.curation_decisions`` over seeded documents, with exact
    duplicates planted as in the ``q_curate_documents`` entry query."""

    name = "docs_curate"
    row_key = "doc_id"
    # the first curation after the cold one still runs ~20-40% slower
    # than the next ones, so it is a warm-up and not timed
    min_warm_ops = 2
    warmup_ops = 1
    op_layers = ["pipeline.text", "pipeline.dedup"]

    def __init__(self, root: str, meta: dict, work: str) -> None:
        self.root, self.meta, self.work = root, meta, work
        self.expected = {int(k): tuple(v) for k, v in meta["expected"].items()}

    @property
    def rows_per_op(self) -> int:
        return len(self.expected)

    def _src(self, spark):
        df = spark.read.parquet(os.path.join(self.root, "documents"))
        extra = df.filter(F.col("doc_id") % 10 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
        return df.unionByName(extra)

    def op(self, spark):
        out = curate.curation_decisions(
            self._src(spark), parallelism=2 * spark.sparkContext.defaultParallelism
        )
        return out.collect()

    def check(self, spark, rows) -> list[str]:
        got = {int(r["id"]): (bool(r["keep"]), r["reason"]) for r in rows}
        if got == self.expected:
            return []
        diff = sorted(k for k in got.keys() | self.expected.keys()
                      if got.get(k) != self.expected.get(k))
        return [f"{len(diff)} decisions differ from the oracle, e.g. "
                + ", ".join(f"{k}: {got.get(k)} != {self.expected.get(k)}"
                            for k in diff[:3])]

    def rows_out(self, spark, rows) -> int:
        return len(rows)

    def discard(self, rows) -> None:
        pass

    def layers(self, spark, layer, last_res) -> dict:
        src = self._src(spark)
        par = 2 * spark.sparkContext.defaultParallelism
        with layer("pipeline.text") as c:
            c["rows_out"] = (
                force(T.quality_features(src)) + force(T.lang_id(src))
                + force(T.fingerprints(src))
            )
        # curation hands the near-dup stage only the rows that pass the
        # quality and language gates and the exact-dup keeper; the same
        # survivors are built here, outside every layer span
        with layer("aux.gates"):
            t = F.col("text")
            surv = src.filter(
                T.quality_ok_col(t) & T.lang_guess_col(t).isin(list(LANGS))
            ).select("doc_id", "text", T.fingerprint(t).alias("fp"))
            keep = surv.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
            surv = surv.join(keep, ["fp", "doc_id"], "left_semi").select(
                "doc_id", "text"
            ).localCheckpoint(eager=True)
        with layer("pipeline.dedup") as c:
            pairs = Observation("pairs")
            c["rows_out"] = force(dedup.dedup_decisions(
                dedup.minhash_lsh_dedup(surv, threshold=0.8, parallelism=par)
                .observe(pairs, F.count(F.lit(1)).alias("n"))
            ))
        # the candidates that minhash_lsh_dedup verified, counted apart
        with layer("aux.candidates"):
            n_cand = dedup.lsh_candidates(surv.repartition(par)).count()
        n_pairs = pairs.get["n"]
        return {"pipeline.dedup.pair_yield": n_pairs / n_cand if n_cand else 0.0}


WORKLOADS = {w.name: w for w in (ImagesValidate, DocsCurate)}
