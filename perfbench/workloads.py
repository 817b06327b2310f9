"""The benchmark's workloads: how each one generates its inputs, sets up,
runs one operation through the program's public entry points and checks
that operation's outputs.

An operation is one batch through ``cli.main`` (``cds_small_batches``)
or one ``llm_pipeline.prepare_training_data`` run with its manifest
written (``llm_prepare``). Program functions are always looked up as
module attributes at call time, so the traced run's wrappers apply;
``span`` is replaced by the tracer's in a traced run.
"""

from __future__ import annotations

import contextlib
import os
import random

import cds
import llm


class CdsSmallBatches:
    """Single-study submission batches of 120 to 300 rows, each its own
    ``DATA_BATCH_NAME``, with the study-version history on. Batches
    resubmit each study once, so the history state is read, merged and
    re-stamped."""

    name = "cds_small_batches"
    batches = 6  # more than a run uses: the loop stops at its deadline
    sources = ("cds.py",)

    def generate(self, d: str, seed: int):
        rng = random.Random(seed)
        # At or above ~70 rows a batch runs a fixed number of Spark jobs
        # (below it some joins plan differently), so sizes start at 120.
        sizes = [rng.randrange(120, 301) for _ in range(self.batches)]
        return cds.generate(d, seed, sizes, versions_per_study=2)

    def load(self, inputs: str) -> None:
        """Setup: the model, config and dictionaries, read the way the
        CLI reads them."""
        from cds_etl_spark import cli, model

        model.load_model(os.path.join(inputs, "model.yaml"), os.path.join(inputs, "props.yaml"))
        for name in ("raw_dict.yaml", "clean_dict.yaml"):
            cli.load_yaml(os.path.join(inputs, name))
        cli.load_ui_mapping(os.path.join(inputs, "ui_mapping.yaml"))

    def start(self, spark, inputs: str, truth, run_dir: str) -> int:
        """Write one config per batch; returns how many operations exist."""
        self.spark, self.inputs, self.truth, self.run_dir = spark, inputs, truth, run_dir
        self.history: dict[str, list[str]] = {}
        for t in truth:
            cds.write_config(os.path.join(run_dir, f"{t['batch']}.yaml"), inputs, run_dir, t["batch"])
        return len(truth)

    def op_label(self, k: int) -> str:
        return self.truth[k]["batch"]

    def run(self, k: int) -> None:
        from cds_etl_spark import cli

        cli.main(["--config_file", os.path.join(self.run_dir, f"{self.truth[k]['batch']}.yaml")],
                 spark=self.spark)

    def check(self, k: int) -> tuple[list[str], dict]:
        t = self.truth[k]
        hist = self.history.setdefault(t["phs"], [])
        hist.append(t["version"])
        return cds.check_batch(self.run_dir, t, hist), {"rows": t["rows"]}


class LlmPrepare:
    """``prepare_training_data`` over a generated corpus and probe set,
    from the JSONL read to the manifest TSV on disk."""

    name = "llm_prepare"
    docs = 3000
    sources = ("llm.py",)
    span = contextlib.nullcontext

    def generate(self, d: str, seed: int):
        return llm.generate(d, seed, self.docs)

    def load(self, inputs: str) -> None:
        """Nothing beyond the session: the pipeline takes no model,
        config or dictionary."""

    def start(self, spark, inputs: str, truth, run_dir: str) -> int:
        self.spark, self.inputs, self.truth, self.run_dir = spark, inputs, truth, run_dir
        self.stages: dict = {}
        return 1_000_000  # the corpus can be prepared any number of times

    def op_label(self, k: int) -> str:
        return f"prepare{k:03d}"

    def run(self, k: int) -> None:
        from cds_etl_spark import llm_pipeline
        from cds_etl_spark.sources import files

        self.docs_df = files.read_jsonl(self.spark, os.path.join(self.inputs, "corpus.jsonl"), llm.SCHEMA)
        probe = files.read_jsonl(self.spark, os.path.join(self.inputs, "probe.jsonl"), llm.SCHEMA)
        self.stages = llm_pipeline.prepare_training_data(
            self.docs_df, probe, languages=llm.LANGUAGES, chunk_budget=llm.CHUNK_BUDGET
        )
        with self.span("llm_pipeline.manifest_write"):
            files.write_tsv_file(self.stages["manifest"], os.path.join(self.run_dir, self.op_label(k)), "manifest")

    def check(self, k: int) -> tuple[list[str], dict]:
        rows = llm.read_manifest(os.path.join(self.run_dir, self.op_label(k), "manifest.tsv"))
        # The three pinned stages count cheaply; ``clean`` is the
        # manifest's document set (every document has tokens).
        counts = {s: self.stages[s].count() for s in ("filtered", "deduped", "clustered")}
        counts["clean"] = len({r[1] for r in rows})
        counts["manifest"] = len(rows)
        counts["input"] = self.docs_df.count()
        self.stages, self.docs_df = {}, None
        return llm.check_manifest(rows, counts, self.truth), {"rows": counts["input"], "stage_rows": counts}


WORKLOADS = {w.name: w for w in (CdsSmallBatches, LlmPrepare)}
