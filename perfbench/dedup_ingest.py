"""``dedup_ingest``: streaming dedup ingest through the persisted index.

Set-up builds the dedup index over a 5,000-document corpus (the sf0.1
corpus size) and makes one call to
``functions.dedup_index.streaming_ingest_gate``, which drains a file stream
of pre-written 500-doc micro-batches, one file per trigger. The first
``WARM_BATCHES`` batches warm the gate and end set-up. One op is one later
micro-batch; its latency is the trigger's own
``StreamingQueryProgress.durationMs.triggerExecution``. The gate compacts
the index after every batch (``COMPACT_EVERY``), so every op has the same
steps and compaction runs in every op.

Every batch mixes four kinds of docs, drawn by the seed:

* ``exact``  — a corpus doc re-sent under a new id: rejected;
* ``near``   — a corpus doc of at least 30 tokens plus one appended token:
  rejected;
* ``inner``  — an exact copy of a novel doc of the same batch under a higher
  id: collapsed inside the batch;
* ``novel``  — a fresh random doc: admitted.

Each doc's verdict is known when the batch is generated, so after the drain
the corpus holds exactly the initial docs plus every novel doc, and the
index holds one fingerprint row and ``bands`` band rows per corpus doc.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen, sparkmetrics

CORPUS = 5_000
BATCH = 500
WARM_BATCHES = 1
COMPACT_EVERY = 1
KINDS = ("exact", "near", "inner", "novel")
KIND_P = (0.10, 0.15, 0.10, 0.65)
# Measured batches: about one per SECONDS_PER_BATCH of run length (a batch
# takes about that long on a 4-core host), at least one, and at least two in
# a traced run, which traces every other batch.
SECONDS_PER_BATCH = 7


def _files(path: str) -> tuple[int, int]:
    n = size = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class DedupIngest:
    name = "dedup_ingest"
    docs_per_op = BATCH

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        w = ctx.work
        self.corpus_path = os.path.join(w, "corpus")
        self.index_path = os.path.join(w, "index")
        self.checkpoint = os.path.join(w, "checkpoint")
        self.stream_dir = os.path.join(w, "stream")
        self.rng = np.random.default_rng(ctx.seed)
        self.n_batches = max(2 if ctx.trace else 1,
                             round(ctx.seconds / SECONDS_PER_BATCH))
        self.batches: list[dict] = []    # per batch: its ids, ids to admit
        self.kind_counts = np.zeros(len(KINDS))
        self.progress: list = []

    # -- inputs ---------------------------------------------------------------

    def _make_batch(self, b: int) -> pa.Table:
        """One 500-doc batch and the ids the gate must admit and reject."""
        rng = self.rng
        base = 10_000_000 * (b + 1)
        ids: list[int] = []
        texts: list[str] = []
        admit: list[int] = []
        kinds = rng.choice(len(KINDS), BATCH, p=KIND_P)
        novel_texts: list[str] = []
        for j, k in enumerate(kinds):
            doc_id = base + j
            kind = KINDS[k]
            if kind == "inner" and not novel_texts:
                kind = "novel"
            if kind == "exact":
                text = self.corpus_texts[int(rng.integers(CORPUS))]
            elif kind == "near":
                text = self.long_texts[int(rng.integers(len(self.long_texts)))]
                text += " " + datagen.VOCAB[int(rng.integers(
                    len(datagen.VOCAB)))]
            elif kind == "inner":
                text = novel_texts[int(rng.integers(len(novel_texts)))]
            else:
                text = datagen.random_text(rng, int(rng.integers(8, 97)))
                novel_texts.append(text)
                admit.append(doc_id)
            self.kind_counts[KINDS.index(kind)] += 1
            ids.append(doc_id)
            texts.append(text)
        self.batches.append({"ids": ids, "admit": set(admit)})
        return pa.table({"doc_id": pa.array(ids, pa.int64()),
                         "text": pa.array(texts, pa.string())})

    def _stage(self, count: int) -> None:
        """Write ``count`` batches, one file each, with increasing
        modification times so the stream takes them in order."""
        os.makedirs(self.stream_dir)
        t0 = time.time() - 3600
        for b in range(count):
            path = os.path.join(self.stream_dir, f"batch-{b:05d}.parquet")
            pq.write_table(self._make_batch(b), path)
            os.utime(path, (t0 + b, t0 + b))

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        corpus = datagen.documents(self.rng, CORPUS).select(["doc_id", "text"])
        self.corpus_texts = corpus.column("text").to_pylist()
        self.long_texts = [t for t in self.corpus_texts
                           if len(t.split()) >= 30]
        os.makedirs(self.corpus_path)
        pq.write_table(corpus, os.path.join(self.corpus_path,
                                            "part-0.parquet"))
        self._stage(WARM_BATCHES + self.n_batches)

        spark = self.ctx.session("perfbench-dedup_ingest")
        from dataweb_spark.functions import dedup_index as DI
        self.params = DI.build_dedup_index(
            spark.read.parquet(self.corpus_path), self.index_path)
        self.index_rows_start = self._index_rows()
        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1)
                  .parquet(self.stream_dir))
        self.query = DI.streaming_ingest_gate(
            stream, self.index_path, self.corpus_path, self.checkpoint,
            compact_every=COMPACT_EVERY)
        for b in range(WARM_BATCHES):
            self._await_batch(b)

    def _index_rows(self) -> dict[str, int]:
        return {t: pq.read_table(os.path.join(self.index_path, t),
                                 columns=["id"]).num_rows
                for t in ("fp", "bands")}

    # -- ops ------------------------------------------------------------------

    def keep_going(self, i: int, elapsed: float) -> bool:
        return i < self.n_batches

    def traced_op(self, i: int) -> bool:
        return i % 2 == 1

    def op_class(self, i: int) -> str:
        return "batch"

    def _await_batch(self, b: int):
        """Block until micro-batch ``b`` of the drain has committed."""
        q = self.query
        rec = self.ctx.rec
        while True:
            if rec is not None:  # polling is not the gate's py4j traffic
                rec._local.in_hook = True
            try:
                active = q.isActive
                done = [p for p in q.recentProgress if p.numInputRows > 0]
            finally:
                if rec is not None:
                    rec._local.in_hook = False
            if len(done) > b:
                return done[b]
            if not active:
                q.awaitTermination()  # raises the stream's failure, if any
                raise RuntimeError(f"stream ended after {len(done)} batches")
            time.sleep(0.02)

    def op(self, i: int) -> dict:
        """Wait for measured micro-batch ``i``; its trigger timed it."""
        p = self._await_batch(WARM_BATCHES + i)
        self.progress.append(p)
        start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00"))
        ms = float(p.durationMs["triggerExecution"])
        s = start.timestamp() * 1000
        if i == self.n_batches - 1:
            self.query.awaitTermination()
        return {"ms": ms, "window": (s, s + ms)}

    # -- tracing --------------------------------------------------------------

    def install_tracing(self, rec) -> None:
        for attr, span in [("classify_against_index", "functions.classify"),
                           ("append_batch", "functions.append"),
                           ("compact_index", "functions.compact")]:
            rec.rebind("dataweb_spark.functions.dedup_index", attr, span)
        self._last = (-1, self._storage()[1])

    def _storage(self) -> tuple[dict, int]:
        counts, total = {}, 0
        for key, path in (("index_files", self.index_path),
                          ("corpus_files", self.corpus_path),
                          ("checkpoint_files", self.checkpoint)):
            n, size = _files(path)
            counts[f"storage.{key}"] = n
            total += size
        return counts, total

    def traced_extras(self, i: int) -> dict:
        counts, total = self._storage()
        out = dict(counts)
        last_op, last_total = self._last
        out["storage.bytes_written_per_doc"] = (total - last_total) \
            / (BATCH * (i - last_op))
        self._last = (i, total)
        for k, v in sparkmetrics.progress_durations(self.progress[i]).items():
            out[f"stream.{k}" + ("" if k == "input_rows" else "_ms")] = v
        return out

    def op_layer_values(self, i: int, op_ms: float, m: dict) -> dict:
        return {}

    def unavailable_reason(self, name: str) -> str:
        return "no traced dedup_ingest op reached this layer"

    # -- checks ---------------------------------------------------------------

    def check(self) -> list[int]:
        corpus = pq.read_table(self.corpus_path, columns=["doc_id"])
        have = set(corpus.column("doc_id").to_pylist())
        bad = []
        for b, batch in enumerate(self.batches):
            wrong = [d for d in batch["ids"]
                     if (d in have) != (d in batch["admit"])]
            if wrong:
                op = b - WARM_BATCHES
                print(f"dedup_ingest batch {b}: {len(wrong)} docs with the "
                      f"wrong verdict, e.g. {wrong[:3]}", file=sys.stderr)
                bad.append(op)
        expected = CORPUS + sum(len(b["admit"]) for b in self.batches)
        self.index_rows_end = self._index_rows()
        counts = {"corpus": corpus.num_rows, **self.index_rows_end}
        want = {"corpus": expected, "fp": expected,
                "bands": expected * self.params["bands"]}
        if counts != want:
            print(f"dedup_ingest row counts {counts}, predicted {want}",
                  file=sys.stderr)
            bad.append(self.n_batches - 1)
        return bad

    def properties(self) -> dict:
        shares = self.kind_counts / max(self.kind_counts.sum(), 1)
        return {"batch_docs": BATCH, "batches": self.n_batches,
                "compact_every": COMPACT_EVERY,
                "kind_share": {k: round(float(s), 4)
                               for k, s in zip(KINDS, shares)},
                "corpus_docs_start": CORPUS,
                "index_rows_start": self.index_rows_start,
                "index_rows_end": getattr(self, "index_rows_end", None)}
