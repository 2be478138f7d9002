"""curate_corpus: read a document corpus and clean it.

At set-up the benchmark generates a corpus from the seed and writes it
with ``io.write``.  Every block of 20 documents holds exactly:

- 14 base documents of 20-60 words (English-like text over a seeded
  vocabulary, a few in other languages' function words),
- 3 near-duplicates of an earlier base document with about one word in
  twenty replaced,
- 2 exact duplicates of an earlier base document after normalisation
  (upper-cased, punctuation added),
- 1 junk document of under five words, which the quality filter drops.

Each job reads the corpus with ``io.read``, runs ``corpus_clean`` with
near-duplicate removal and writes the cleaned corpus with ``io.write``
(zstd parquet, a fresh directory per job), then collects ``dup_groups``
over the MinHash pairs.  Generation does no work here; the read path,
the shuffle-heavy dedup and text operators and the writer do.
"""

from __future__ import annotations

import itertools
import os
import random
import shutil

import pandas as pd
from nifi_datasynthesizer_spark import io as IO
from nifi_datasynthesizer_spark import oracles as OR
from nifi_datasynthesizer_spark.operators import dedup as DD
from nifi_datasynthesizer_spark.operators import text as TX
from nifi_datasynthesizer_spark.operators.pipeline import corpus_clean

from . import oracle
from .harness import Op

DOCS = 3000
ROLES = ["base"] * 14 + ["near"] * 3 + ["exact"] * 2 + ["junk"]
MIN_QUALITY = 0.3
NEAR_DUP = 0.5
CLEAN_COLS = ["doc_id", "text", "pred_lang", "lang_score", "q_n_words",
              "quality"]
_SYLLABLES = ["ka", "lo", "mi", "ta", "ren", "sor", "vel", "dun", "pra",
              "qui", "ze", "bo", "nak", "ist", "ul", "fe", "gar", "ton"]
_FUNCTION_WORDS = {
    "en": ["the", "and", "of", "to", "is", "that", "with", "a", "in", "for"],
    "es": ["el", "la", "los", "que", "de", "una"],
    "fr": ["le", "les", "des", "est", "une", "dans"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
}


def make_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """The (doc_id, text) corpus for ``seed``; the same seed gives the
    same corpus."""
    rng = random.Random(seed)
    vocab = sorted({"".join(rng.choice(_SYLLABLES)
                            for _ in range(rng.randint(2, 4)))
                    for _ in range(4000)})
    langs = ["en"] * 7 + ["es", "fr", "de"]
    base: list[str] = []
    texts: list[str] = []
    for start in range(0, n_docs, len(ROLES)):
        roles = ROLES[:]
        rng.shuffle(roles)
        for role in roles[:n_docs - start]:
            if role != "base" and not base:
                role = "base"
            if role == "base":
                fw = _FUNCTION_WORDS[rng.choice(langs)]
                words = [rng.choice(fw) if rng.random() < 0.3
                         else rng.choice(vocab)
                         for _ in range(rng.randint(20, 60))]
                text = " ".join(words)
                base.append(text)
            elif role == "near":
                words = rng.choice(base).split()
                for _ in range(max(1, len(words) // 20)):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
                text = " ".join(words)
            elif role == "exact":
                text = rng.choice(base).upper().replace(" ", ", ", 1) + "."
            else:
                text = " ".join(rng.choice(vocab)
                                for _ in range(rng.randint(1, 4)))
            texts.append(text)
    return pd.DataFrame({"doc_id": range(len(texts)), "text": texts})


class CurateCorpus:
    name = "curate_corpus"
    clients = 1
    block = 1
    block_seconds = 4.5          # one job, four cores

    def __init__(self, spark, seed: int, tiny: bool, work: str):
        self.spark = spark
        self.seed = seed
        self.n_docs = 400 if tiny else DOCS
        self.path = os.path.join(work, "corpus")
        self.out = os.path.join(work, "cleaned")
        self._jobs = itertools.count()       # one output directory per job
        self.perturb = False
        self.corpus: pd.DataFrame | None = None

    def setup(self, tracer) -> None:
        self.corpus = make_corpus(self.seed, self.n_docs)
        with tracer.span("io.write", spark=self.spark):
            IO.write(self.spark.createDataFrame(self.corpus), self.path)
        # warm-up: one job like the measured ones; a smaller one leaves
        # the first measured job a quarter slower than the rest
        self.run_op(-1, tracer)
        self.prepare(0)
        shutil.rmtree(self.out)

    def prepare(self, i: int) -> None:
        """Drop what the previous job persisted, outside its latency."""
        DD.release_caches()
        self.spark.catalog.clearCache()

    def run_op(self, i: int, tr) -> Op:
        spark = self.spark
        out = os.path.join(self.out, str(next(self._jobs)))
        with tr.span("job", req=i):
            with tr.span("io.read", spark=spark):
                docs = IO.read(spark, self.path)
                if tr.enabled:               # force the scan to split read cost
                    docs.write.format("noop").mode("overwrite").save()
            with tr.span("pipeline.clean", spark=spark):
                cleaned = corpus_clean(docs, min_quality=MIN_QUALITY,
                                       near_dup_threshold=NEAR_DUP)
                with tr.span("io.write", spark=spark):
                    IO.write(cleaned.select(*CLEAN_COLS), out)
            if tr.enabled:
                with tr.span("text.annotate", spark=spark):
                    (TX.quality_score(TX.lang_id(docs)).write.format("noop")
                     .mode("overwrite").save())
            with tr.span("dedup.minhash", spark=spark):
                pairs = DD.dedup_minhash(docs, jaccard_threshold=NEAR_DUP)
                if tr.enabled:               # force pairs to split minhash cost
                    pairs = pairs.persist()
                    tr.count("dedup.pairs_out", pairs.count())
            with tr.span("dedup.groups", spark=spark):
                labels = DD.dup_groups(pairs)
                with tr.action(spark):
                    groups = labels.toPandas()
        if tr.enabled:
            files = [f for f in os.listdir(out) if f.startswith("part-")]
            tr.count("io.files_written", len(files))
            tr.count("io.bytes_written",
                     sum(os.path.getsize(os.path.join(out, f)) for f in files))
            kept = IO.read(spark, out).count()
            tr.count("io.rows_written", kept)
            tr.count("pipeline.docs_in", self.n_docs)
            tr.count("pipeline.docs_out", kept)
            tr.count("dedup.groups_out", len(groups))
        op = Op(i, "curate", rows=self.n_docs)
        op.detail = {"out": out, "groups": groups}
        return op

    def verify(self, ops: list[Op], con) -> list[str]:
        """Every job's written corpus against ``corpus_clean_sql`` and its
        groups against ``dup_groups_sql``, replayed over the same corpus."""
        corpus = self.corpus
        con.register("corpus_df", corpus)
        con.sql("CREATE OR REPLACE TABLE documents AS SELECT * FROM corpus_df")
        con.sql("CREATE OR REPLACE TABLE mh_pairs AS "
                + OR.minhash_pairs_sql(jaccard_threshold=NEAR_DUP))
        want_clean = con.sql(OR.corpus_clean_sql(
            min_quality=MIN_QUALITY, near_dup_threshold=NEAR_DUP,
            table="documents", cols=", ".join(CLEAN_COLS))).df()
        want_groups = con.sql(OR.dup_groups_sql("SELECT * FROM mh_pairs")).df()
        errors = []
        for op in ops:
            if op.kind == "error":
                continue
            groups = op.detail.pop("groups")
            clean = IO.read(self.spark, op.detail["out"]).toPandas()
            if self.perturb and op.index == 0:
                clean = oracle.perturb(clean)
            msg = oracle.compare_frames(clean, want_clean)
            if msg:
                msg = "corpus_clean: " + msg
            else:
                msg = oracle.compare_frames(groups, want_groups)
                msg = msg and "dup_groups: " + msg
            if msg:
                op.ok = False
                errors.append(f"job {op.index}: {msg}")
        return errors
