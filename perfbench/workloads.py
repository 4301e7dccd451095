"""The three workloads of the benchmark.

Each workload materialises its inputs in `prepare` (untimed), warms the
session in `warm_up` (untimed), runs one timed closed-loop job in `run`
and verifies outputs in `check` (untimed).  `run` starts at a parquet
scan and ends when the output is committed.
"""

from __future__ import annotations

import os
import random
import shutil

from pyspark.sql import functions as F

import gen
from sandbox import CORES, dir_size, fresh_dir

CHECK_SAMPLE = 40        # rows recomputed in-process by each check
KERNEL_SAMPLE = 200      # texts the in-process kernel probe times
SETUP_SAMPLE = 64        # rows of the set-up detection job


def _mention_tuple(m: dict) -> tuple:
    return (m["entity_group"], int(m["start"]), int(m["end"]),
            m["detector"], m["surface"], round(float(m["score"]), 9))


def _kernel_mentions(text: str) -> list[tuple]:
    from redactify_spark.detect import kernel
    return sorted(_mention_tuple({**m, "surface": m.get("entity_text", ""),
                                  "detector": m.get("detector", "unknown")})
                  for m in kernel.detect_document(text))


class Workload:
    name = ""
    id_col = "url"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.input_dir = os.path.join(work, "input")

    def _write_setup_sample(self) -> None:
        """The small input of each set-up's first detection job."""
        keys = sorted(self.texts)[:SETUP_SAMPLE]
        write = (gen.write_documents if self.id_col == "doc_id"
                 else gen.write_pages)
        self.sample_path = os.path.join(self.input_dir, "setup")
        write(self.sample_path, {k: self.texts[k] for k in keys}, CORES)

    def before(self, i: int) -> str:
        """Untimed preparation of timed iteration `i`; returns the
        output root the iteration writes under."""
        return fresh_dir(os.path.join(self.work, "out", str(i % 2)))

    def after(self, root: str, info: dict) -> None:
        """Untimed bookkeeping after a successful iteration."""

    def written(self, root: str) -> tuple[int, int]:
        """(files, bytes) the iteration left under its output root."""
        return dir_size(root)

    def kernel_sample(self) -> list[str]:
        keys = sorted(self.texts)
        random.Random(self.seed).shuffle(keys)
        return [self.texts[k] for k in keys[:KERNEL_SAMPLE]]


class KgBuild(Workload):
    """Cold `kg_pipeline` over short PII pages with an open, misspelled
    organization vocabulary and a head entity."""
    name = "kg_build"
    PAGES = 1500

    def prepare(self) -> None:
        # assumed: one organization name per eight pages
        corpus = gen.Corpus(self.seed, n_orgs=self.PAGES // 8)
        self.texts = corpus.pages(range(self.PAGES))
        self.input_bytes = gen.write_pages(
            os.path.join(self.input_dir, "pages"), self.texts, CORES)
        self._write_setup_sample()
        self.manifests: list[dict] = []

    def _pipeline(self, spark, path: str, root: str):
        from redactify_spark.plans import checkpoint as CP
        return CP.kg_pipeline(spark, spark.read.parquet(path), root,
                              id_col="url")

    def warm_up(self, spark) -> None:
        """A full untimed build; its stage hashes are the reference
        every timed build must reproduce."""
        root = fresh_dir(os.path.join(self.work, "warm"))
        self.run(spark, root)
        self.after(root, {})

    def run(self, spark, root: str) -> dict:
        self._pipeline(spark, os.path.join(self.input_dir, "pages"), root)
        return {"pages": self.PAGES, "input_bytes": self.input_bytes}

    def after(self, root: str, info: dict) -> None:
        from redactify_spark.plans.checkpoint import read_manifest
        stages = sorted(d for d in os.listdir(root)
                        if os.path.isdir(os.path.join(root, d)))
        info["manifests"] = {s: read_manifest(root, s) for s in stages}
        self.manifests.append({s: m["content_hash"]
                               for s, m in info["manifests"].items()})

    def check(self, spark, root: str) -> list[str]:
        errors = []
        first = self.manifests[0]
        for k, other in enumerate(self.manifests[1:], 1):
            for stage in sorted(set(first) | set(other)):
                if first.get(stage) != other.get(stage):
                    errors.append(f"kg_build: stage {stage} content hash "
                                  f"of build {k} differs from the warm-up")
        urls = sorted(self.texts)
        sample = random.Random(self.seed + 1).sample(urls, CHECK_SAMPLE)
        got: dict[str, list] = {u: [] for u in sample}
        rows = (spark.read.parquet(os.path.join(root, "01_mentions", "data"))
                .where(F.col("url").isin(sample)).collect())
        for r in rows:
            got[r["url"]].append(_mention_tuple(r.asDict()))
        for u in sample:
            if sorted(got[u]) != _kernel_mentions(self.texts[u]):
                errors.append(f"kg_build: mentions of {u} differ from the "
                              "in-process kernel")
        return errors

    def layer_counts(self, spark, root: str, info: dict) -> dict:
        """Linking work counts recomputed from the iteration's mentions
        (outside any traced span)."""
        from redactify_spark.operators import linking as L
        m = info["manifests"]
        mentions = spark.read.parquet(os.path.join(root, "01_mentions",
                                                   "data"))
        ents = (mentions.where(F.col("entity_group")
                               .isin(*L.LINKABLE_TYPES))
                .select("pseudo_key", "surface")
                .dropDuplicates(["pseudo_key"]))
        bands = L.surface_bands(ents).persist()
        pairs = L.candidate_pairs(bands).where(
            F.split("key_a", "-").getItem(0)
            == F.split("key_b", "-").getItem(0)).count()
        wide = L.wide_bucket_count(bands)
        bands.unpersist()
        edges = m["03_match_edges"]["row_count"]
        return {"detection.rows_out": m["01_mentions"]["row_count"],
                "triples.rows_out": m["02_triples"]["row_count"],
                "linking.candidate_pairs": pairs,
                "linking.edges": edges,
                "linking.yield": edges / pairs if pairs else 0.0,
                "linking.wide_buckets_dropped": wide,
                "components.rows_out": m["04_canonical"]["row_count"],
                "detected_docs": self.PAGES}


class Redact(Workload):
    """`anonymize_documents` (pseudonymize) over long PII-dense
    documents; output written to parquet."""
    name = "redact"
    id_col = "doc_id"
    DOCS = 1000
    WARM_DOCS = 60
    PASSAGES = 6

    def prepare(self) -> None:
        corpus = gen.Corpus(self.seed, n_orgs=500)
        base = corpus.id_base
        self.texts = {base + i: corpus.document_text(base + i, self.PASSAGES)
                      for i in range(self.DOCS + self.WARM_DOCS)}
        docs = {i: self.texts[i] for i in sorted(self.texts)[:self.DOCS]}
        warm = {i: self.texts[i] for i in sorted(self.texts)[self.DOCS:]}
        self.texts = docs
        self.input_bytes = gen.write_documents(
            os.path.join(self.input_dir, "docs"), docs, CORES)
        gen.write_documents(os.path.join(self.input_dir, "warm"), warm,
                            CORES)
        self._write_setup_sample()

    def _anonymize(self, spark, path: str, out: str) -> None:
        from redactify_spark.operators import detection
        df = spark.read.parquet(path)
        (detection.anonymize_documents(df, id_col="doc_id")
         .write.mode("overwrite").parquet(out))

    def warm_up(self, spark) -> None:
        self._anonymize(spark, os.path.join(self.input_dir, "warm"),
                        os.path.join(fresh_dir(os.path.join(self.work,
                                                            "warm")), "a"))

    def run(self, spark, root: str) -> dict:
        self._anonymize(spark, os.path.join(self.input_dir, "docs"),
                        os.path.join(root, "anonymized"))
        return {"pages": self.DOCS, "input_bytes": self.input_bytes}

    def check(self, spark, root: str) -> list[str]:
        from redactify_spark.detect import anonymize, kernel
        sample = random.Random(self.seed + 1).sample(sorted(self.texts),
                                                     CHECK_SAMPLE)
        rows = (spark.read.parquet(os.path.join(root, "anonymized"))
                .where(F.col("doc_id").isin(sample)).collect())
        got = {r["doc_id"]: (r["anonymized_text"], r["n_entities"])
               for r in rows}
        errors = []
        for d in sample:
            text = self.texts[d]
            ms = kernel.detect_document(text)
            want = (anonymize.anonymize_text(text, ms, "pseudonymize", True),
                    len(ms))
            if got.get(d) != want:
                errors.append(f"redact: document {d} differs from the "
                              "in-process kernel + anonymizer")
        return errors

    def layer_counts(self, spark, root: str, info: dict) -> dict:
        return {"detection.rows_out": self.DOCS, "detected_docs": self.DOCS}


class Recrawl(Workload):
    """From an applied snapshot T1, append a short sequence of churned
    snapshots with `plans.recrawl.append_snapshot`."""
    name = "recrawl"
    PAGES = 8000
    STEPS = 2

    def prepare(self) -> None:
        corpus = gen.Corpus(self.seed, n_orgs=self.PAGES // 8)
        snap = corpus.pages(range(self.PAGES))
        next_id = self.PAGES
        self.snapshots = [os.path.join(self.input_dir, "t1")]
        gen.write_pages(self.snapshots[0], snap, CORES)
        self.t0_bound = sorted(snap)[len(snap) // 2]
        self.input_bytes = self.pages_applied = 0
        for step in range(1, self.STEPS + 1):
            snap, next_id = corpus.churn(snap, step, next_id)
            path = os.path.join(self.input_dir, f"t{step + 1}")
            self.input_bytes += gen.write_pages(path, snap, CORES)
            self.pages_applied += len(snap)
            self.snapshots.append(path)
        self.texts = snap          # the final snapshot
        self._write_setup_sample()
        self.t1_root = os.path.join(self.work, "t1_root")

    def warm_up(self, spark) -> None:
        """Builds the T1 state every iteration starts from a copy of:
        T0 (the first half of T1's pages), then T1.  The T1 append runs
        every code path a timed append does."""
        from redactify_spark.plans import recrawl as R
        root = fresh_dir(self.t1_root)
        t1 = spark.read.parquet(self.snapshots[0])
        R.append_snapshot(spark, root, "t0",
                          t1.where(F.col("url") < self.t0_bound))
        R.append_snapshot(spark, root, "t1", t1)
        self.t1_size = dir_size(root)

    def before(self, i: int) -> str:
        root = os.path.join(self.work, "out", str(i % 2))
        shutil.rmtree(root, ignore_errors=True)
        shutil.copytree(self.t1_root, root)
        return root

    def written(self, root: str) -> tuple[int, int]:
        files, size = dir_size(root)
        return files - self.t1_size[0], size - self.t1_size[1]

    def run(self, spark, root: str) -> dict:
        from redactify_spark.plans import recrawl as R
        detected = 0
        for k, path in enumerate(self.snapshots[1:], 2):
            out = R.append_snapshot(spark, root, f"t{k}",
                                    spark.read.parquet(path))
            detected += out["detected_urls"]
        return {"pages": self.pages_applied, "input_bytes": self.input_bytes,
                "detected": detected}

    def check(self, spark, root: str) -> list[str]:
        from redactify_spark.operators.detection import detect_mentions
        from redactify_spark.operators.triples import all_triples
        from redactify_spark.plans import recrawl as R
        live = R.current_triples(spark, root)
        final = spark.read.parquet(self.snapshots[-1])
        oneshot = all_triples(detect_mentions(final, id_col="url"),
                              id_col="url")
        cols = sorted(oneshot.columns)
        # multiset difference in one pass: +1 per live row, -1 per
        # one-shot row, any key whose sum is not 0 is a mismatch
        diff = (live.select(*cols, F.lit(1).alias("_n"))
                .unionByName(oneshot.select(*cols, F.lit(-1).alias("_n")))
                .groupBy(*cols).agg(F.sum("_n").alias("_d"))
                .where("_d != 0"))
        if diff.limit(1).count():
            return ["recrawl: live triples differ from a one-shot "
                    "detection of the final snapshot"]
        return []

    def layer_counts(self, spark, root: str, info: dict) -> dict:
        from redactify_spark.plans.checkpoint import read_manifest
        rows = {"mentions": 0, "triples": 0}
        for k in range(2, self.STEPS + 2):
            for sub in rows:
                rows[sub] += read_manifest(
                    os.path.join(root, "tranches", f"t{k}"), sub)["row_count"]
        return {"detection.rows_out": rows["mentions"],
                "triples.rows_out": rows["triples"],
                "recrawl.detected_fraction":
                    info["detected"] / self.pages_applied,
                "detected_docs": info["detected"]}


WORKLOADS = {w.name: w for w in (KgBuild, Redact, Recrawl)}
