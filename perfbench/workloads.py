"""The closed-loop workloads.

Each workload is driven by one client: submit a job, wait for it to
finish, submit the next.  A job calls into the engine's public
functions and ends with the materializing action (the noop sink).
What a job needs that is not the engine's work (writing a backlog,
checking outputs) runs between jobs, outside its timing.
"""

from __future__ import annotations

import os
import re
import shutil

import datagen


class Ctx:
    """What one run shares between set-up, jobs and checks."""

    def __init__(self, tracer, data_dir: str, work_dir: str, seed: int,
                 cores: int, manifest: dict) -> None:
        self.spark = None
        self.tracer = tracer
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.cores = cores
        self.manifest = manifest
        self.state: dict = {}

    def table(self, name: str) -> dict:
        return self.manifest["tables"][name]


def materialize(ctx: Ctx, df) -> None:
    """The job's action: the noop sink computes every column of every
    row and discards it.  A traced job first forces Catalyst planning
    of ``df`` on its own (``exec.plan``).  The write then builds its own
    command over ``df``'s analyzed plan and optimizes and plans it
    again, so ``exec.run`` still holds one planning pass, and a traced
    job plans twice; ``trace.overhead_share`` includes that pass."""
    tr = ctx.tracer
    if tr.enabled:
        with tr.span("exec.plan"):
            df._jdf.queryExecution().executedPlan()
    with tr.span("exec.run"):
        df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    item = ""                        # what items_per_s counts
    tables: tuple[str, ...] = ()     # tables the catalog attaches
    mix: tuple[str, ...] = ()        # job types, one cycle
    prime_cycles = 1                 # untimed cycles before the timed ones
    files_per_job = 0                # > 0: failures count per file

    def make_inputs(self, data_dir: str, seed: int) -> dict:
        return datagen.make_tables(data_dir, seed, self.tables)

    def before_job(self, ctx: Ctx, i: int, jtype: str) -> None:
        """Untimed preparation of job ``i``."""

    def run_job(self, ctx: Ctx, i: int, jtype: str) -> tuple[int, int]:
        """The timed job; returns (items, input bytes)."""
        raise NotImplementedError

    def after_job(self, ctx: Ctx, i: int, jtype: str) -> tuple[int, int]:
        """Untimed check of job ``i``'s outputs: (checked, failed)."""
        return 0, 0

    def job_counters(self, ctx: Ctx, i: int, jtype: str) -> dict:
        """Traced-run counters read after job ``i``."""
        return {}

    def cleanup_job(self, ctx: Ctx, i: int) -> None:
        """Remove what job ``i`` left behind."""

    def check(self, ctx: Ctx) -> dict[str, bool]:
        """Once-per-run output checks, by job type."""
        return {}


class FileDrain(Workload):
    """The reference's own job: drain a fresh backlog of opaque files
    with the identity transform (``cp``, user-data.sh:4)."""

    name = "file_drain"
    item = "files"
    mix = ("drain",)
    files_per_job = 300
    prime_cycles = 3                 # drains 2 and 3 still run ~25% slow

    def make_inputs(self, data_dir, seed):
        return {"seed": seed, "files_per_job": self.files_per_job,
                "tables": {}}

    def _bucket(self, ctx: Ctx, i: int) -> str:
        return os.path.join(ctx.work_dir, f"bucket{i:05d}")

    def before_job(self, ctx, i, jtype):
        ctx.state["backlog"] = datagen.make_backlog(
            os.path.join(self._bucket(ctx, i), "input"), ctx.seed, i,
            self.files_per_job)

    def run_job(self, ctx, i, jtype):
        from samplebatchprocessing_spark.pipeline import manifest
        with ctx.tracer.span("pipeline.drain"):
            log = manifest.watch_prefix(ctx.spark, self._bucket(ctx, i))
        materialize(ctx, log)
        backlog = ctx.state["backlog"]
        return backlog["files"], backlog["bytes"]

    def after_job(self, ctx, i, jtype):
        """Every input file needs exactly one commit-log row, that row
        ok, and an output byte-equal to the input.  The log's parquet
        files are read directly, apart from the engine's reader."""
        import pyarrow.dataset as ds
        bucket = self._bucket(ctx, i)
        log = ds.dataset(os.path.join(bucket, "_commit_log"),
                         format="parquet").to_table(
                             columns=["file_name", "ok"]).to_pylist()
        rows: dict[str, list] = {}
        for r in log:
            rows.setdefault(r["file_name"], []).append(r["ok"])
        in_dir = os.path.join(bucket, "input")
        names = sorted(os.listdir(in_dir))
        failed = sum(
            1 for name in names if rows.get(name) != [True] or
            not _same_bytes(os.path.join(in_dir, name),
                            os.path.join(bucket, "output", name + ".out")))
        ctx.state["files"] = (len(names), failed)
        return len(names), failed

    def job_counters(self, ctx, i, jtype):
        bucket = self._bucket(ctx, i)
        commits = os.path.join(bucket, "_checkpoint", "commits")
        n, failed = ctx.state["files"]
        return {"pipeline.micro_batches": sum(
                    1 for f in os.listdir(commits) if f.isdigit()),
                "pipeline.files_ok": n - failed,
                "pipeline.files_failed": failed,
                "pipeline.written_bytes": sum(
                    _tree_bytes(os.path.join(bucket, d))
                    for d in ("output", "_commit_log", "_checkpoint")),
                "pipeline.input_bytes": ctx.state["backlog"]["bytes"]}

    def cleanup_job(self, ctx, i):
        shutil.rmtree(self._bucket(ctx, i), ignore_errors=True)


# job type -> (the registry entry wrapping the operator, whether that
# entry returns exactly the operator's output, so that the job's own
# DataFrame is what gets checked against the entry's twin)
CORPUS_TWINS = {
    "corpus_freq_score": ("x16_corpus_freq_score", True),
    "paragraph_dedup": ("l13_paragraph_dedup", True),
    "dsir_weights": ("x65_dsir_weights", True),
    "topk_numpy": ("l7_topk_numpy", False),
    "bnl_topk": ("x119_bnl_topk", False),
}


class CorpusDedup(Workload):
    """The LLM-curation operators, called directly, over sf0.1-sized
    documents and embeddings."""

    name = "corpus_dedup"
    item = "input rows"
    tables = ("documents", "embeddings")
    mix = ("ngram_lsh", "paragraph_dedup", "corpus_freq_score",
           "dsir_weights", "topk_numpy", "bnl_topk")

    @staticmethod
    def _source(jtype: str) -> str:
        return "embeddings" if "topk" in jtype else "documents"

    def _build(self, ctx: Ctx, jtype: str):
        """The operator call; returns its DataFrame."""
        from pyspark.sql import functions as F

        from samplebatchprocessing_spark.catalog import load_table
        from samplebatchprocessing_spark.operators import (dedup,
                                                           similarity, text)
        tr = ctx.tracer
        if jtype == "dsir_weights":
            # x65's operator lives in its registry builder
            from samplebatchprocessing_spark.queries.llm import (
                x65_dsir_weights)
            with tr.span("queries.build"):
                return x65_dsir_weights(ctx.spark, ctx.data_dir)
        src = load_table(ctx.spark, ctx.data_dir, self._source(jtype))
        queries = F.col("vec_id") % 50 == 0
        with tr.span("operators.build"):
            if jtype == "corpus_freq_score":
                return text.corpus_freq_score(src)
            if jtype == "ngram_lsh":
                return dedup.ngram_jaccard_pairs(src, n=2, threshold=0.6,
                                                 method="lsh")
            if jtype == "paragraph_dedup":
                return dedup.paragraph_dedup(src, chunk=5)
            if jtype == "topk_numpy":
                return similarity.brute_force_topk_numpy(src, queries, k=5)
            return similarity.bnl_topk(src, queries, k=5, q_block=16,
                                       c_block=256)

    def run_job(self, ctx, i, jtype):
        df = self._build(ctx, jtype)
        materialize(ctx, df)
        ctx.state.setdefault("last", {})[jtype] = df
        t = ctx.table(self._source(jtype))
        return t["rows"], t["bytes"]

    def check(self, ctx):
        """Each operator against the DuckDB twin of the registry entry
        that wraps it; ngram_lsh against its properties."""
        from samplebatchprocessing_spark import oracle
        from samplebatchprocessing_spark.queries import registry
        reg = registry()
        out = {}
        for jtype, (twin, same) in CORPUS_TWINS.items():
            fn, sql = reg[twin]
            df = ctx.state["last"][jtype] if same else \
                fn(ctx.spark, ctx.data_dir)
            out[jtype] = bool(oracle.compare(df, sql, ctx.data_dir)["ok"])
        out["ngram_lsh"] = self._check_lsh(ctx)
        return out

    def _check_lsh(self, ctx: Ctx) -> bool:
        """Every reported pair is a near duplicate (its 2-gram Jaccard,
        recomputed here, equals the reported one and is >= 0.6) and at
        least 95% of the planted duplicate pairs are found, the recall
        bound of l5_ngram_lsh.  That entry's DuckDB twin enumerates all
        pairs and is too slow at this size."""
        from samplebatchprocessing_spark.catalog import load_table
        got = {(r.doc_a, r.doc_b): r.jaccard
               for r in ctx.state["last"]["ngram_lsh"].collect()}
        texts = dict(load_table(ctx.spark, ctx.data_dir, "documents")
                     .select("doc_id", "text").collect())
        if any(j < 0.6 or abs(bigram_jaccard(texts[a], texts[b]) - j)
               > 1e-12 for (a, b), j in got.items()):
            return False
        found = {(min(a, b), max(a, b)) for a, b in got}
        planted = datagen.planted_pairs(ctx.seed)
        return len(planted & found) >= 0.95 * len(planted)


def bigram_jaccard(a: str, b: str) -> float:
    """Word 2-gram shingle Jaccard with operators.text's tokenizer."""
    def grams(s: str) -> set:
        toks = [t for t in re.split(" +", re.sub("[^a-z0-9 ]", " ",
                                                 s.lower()).strip()) if t]
        return set(zip(toks, toks[1:]))
    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb) if ga | gb else 1.0


def _same_bytes(a: str, b: str) -> bool:
    try:
        with open(a, "rb") as fa, open(b, "rb") as fb:
            return fa.read() == fb.read()
    except FileNotFoundError:
        return False


def _tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _dirs, files in os.walk(path) for f in files)


WORKLOADS = {w.name: w for w in (FileDrain(), CorpusDedup())}
