"""The benchmark's workloads: one class per workload, each with ``run``
(one job: the timed calls into the library), ``check`` (the untimed output
checks of ``checks.py``), ``smoke_negatives`` and ``cleanup``.

``worker.py`` imports this module only after ``get_spark`` returns, so the
benchmark's own imports stay out of ``setup_s``.
"""

from __future__ import annotations

import copy
import json

import numpy as np

import checks
import corpus

RUN_ID = "run-0"


class Validate:
    """First-run path of scripts/run_validation_job.py, with no drift
    baseline: per-row rulesets, violations parquet, lineage append, then
    the table-wide uniqueness and FK checks."""

    def __init__(self, spark, tracer, input_dir, info):
        from json_schema_py_spark.operators.referential import spans_fk_violations
        from json_schema_py_spark.operators.uniqueness import uniqueness_violations
        from json_schema_py_spark.plans import validation
        from json_schema_py_spark.plans.checkpoint import LineageLog
        from json_schema_py_spark.sources import synth

        self.spark, self.tracer, self.input_dir = spark, tracer, input_dir
        self.LineageLog = LineageLog
        self.run_validation = validation.run_validation
        self.synth = synth
        self.uniqueness_violations = uniqueness_violations
        self.spans_fk_violations = spans_fk_violations
        self.expected = checks.expected_rule_counts(info["docs"])
        self.n_docs = info["docs"]
        if tracer.enabled:
            compile_ruleset = validation.compile_ruleset

            def traced_compile(*a, **k):
                with tracer.span("schema.compile"):
                    return compile_ruleset(*a, **k)

            validation.compile_ruleset = traced_compile

    def run(self, out: str) -> None:
        span, spark, synth = self.tracer.span, self.spark, self.synth
        log = self.LineageLog(spark, f"{out}/lineage")
        with span("plans.validation_build"):
            full = synth.spans_documents(spark, self.input_dir, include_source_file=True)
            sd = log.remaining(full, RUN_ID, partition_key="_source_file")
            run = self.run_validation(
                sd,
                {"structural": synth.DOCUMENTS_RULESET, "media_dep": synth.MEDIA_DEPENDENCY_RULESET},
                unique_key=None,
                media_dim=None,
                run_id=RUN_ID,
                partition_key="_source_file",
            )
        with span("sinks.violations_write"):
            run.violations.write.mode("append").parquet(f"{out}/violations")
        with span("plans.lineage_append"):
            log.append(run.verdicts)
        with span("operators.cross_checks_write"):
            cross = self.uniqueness_violations(full, "doc_id").unionByName(
                self.spans_fk_violations(full, synth.media_dim(spark))
            )
            cross.write.mode("overwrite").parquet(f"{out}/violations_cross")

    def check(self, out: str) -> tuple[list[str], dict]:
        return checks.check_validation(out, self.n_docs, self.expected), {}

    def smoke_negatives(self, out: str) -> list[str]:
        """Each check must reject a deliberately wrong expectation."""
        wrong = dict(self.expected, ENUM_MISMATCH=self.expected["ENUM_MISMATCH"] + 1)
        missed = []
        if not checks.check_validation(out, self.n_docs, wrong):
            missed.append("rule counts accepted ENUM_MISMATCH + 1")
        if not checks.check_validation(out, self.n_docs + 1, self.expected):
            missed.append("verdict docs accepted n + 1")
        return missed

    def cleanup(self) -> None:
        pass


class Curate:
    """train_bigram_lm (persisted), curate_documents with the LM gate plus
    exact and near-dup stages, then the verdict parquet write."""

    def __init__(self, spark, tracer, input_dir, info):
        from json_schema_py_spark.operators.lm import train_bigram_lm
        from json_schema_py_spark.plans.curation import curate_documents

        self.spark, self.tracer, self.input_dir = spark, tracer, input_dir
        self.train_bigram_lm = train_bigram_lm
        self.curate_documents = curate_documents
        with open(f"{input_dir}/texts.json") as f:
            planted = json.load(f)
        self.plan = checks.CurationPlan(
            planted["texts"], np.load(f"{input_dir}/groups.npy"), planted["plants"],
            corpus.PERPLEXITY_CAP,
        )
        self.lm = ()
        if tracer.enabled:
            from json_schema_py_spark import util

            duplication_probe = util.duplication_probe

            def traced_probe(*a, **k):
                with tracer.span("util.collapse_probe"):
                    return duplication_probe(*a, **k)

            util.duplication_probe = traced_probe

    def run(self, out: str) -> None:
        span = self.tracer.span
        docs = self.spark.read.parquet(f"{self.input_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        with span("operators.lm_train"):
            self.lm = tuple(t.persist() for t in self.train_bigram_lm(docs, vocab_size=50_000))
            for t in self.lm:
                t.count()
        with span("plans.curation_build"):
            verdicts = self.curate_documents(
                docs, lang=None, lm=self.lm, max_perplexity=corpus.PERPLEXITY_CAP
            )
        with span("sinks.verdicts_write"):
            verdicts.write.mode("overwrite").parquet(f"{out}/verdicts")

    def check(self, out: str) -> tuple[list[str], dict]:
        return checks.check_curation(out, self.plan)

    def smoke_negatives(self, out: str) -> list[str]:
        """Each check must reject a deliberately wrong expectation."""
        plan = self.plan
        _, hist = checks.check_curation(out, plan)
        kept = checks.kept_texts(out, plan.groups)
        wrong = {
            "verdict coverage accepted n + 1 input docs":
                {"groups": np.append(plan.groups, 0)},
            "dedup invariants accepted shifted duplicate groups":
                {"groups": np.roll(plan.groups, 1)},
            "perplexity verdicts accepted one text flipped":
                {"high_ppl": _flip_first(plan.high_ppl, ~plan.ppl_exempt)},
            "near-dup check accepted pairs of unrelated texts":
                {"shingles": [frozenset([g]) for g in range(len(plan.shingles))]},
            "plant recall accepted unfound plants":
                {"plants": np.array(kept[: 2 * (len(kept) // 2)]).reshape(-1, 2)},
        }
        missed = []
        if not hist.get("near_duplicate"):
            missed.append("no near_duplicate verdict to test the near-dup checks on")
        for msg, attrs in wrong.items():
            bad = copy.copy(plan)
            vars(bad).update(attrs)
            if not checks.check_curation(out, bad)[0]:
                missed.append(msg)
        return missed

    def cleanup(self) -> None:
        for t in self.lm:
            t.unpersist()
        self.lm = ()
        self.spark.catalog.clearCache()


def _flip_first(mask: np.ndarray, where: np.ndarray) -> np.ndarray:
    out = mask.copy()
    i = int(np.flatnonzero(where)[0])
    out[i] = not out[i]
    return out


WORKLOADS = {"validate": Validate, "curate-dup400": Curate, "curate-dup3": Curate}


