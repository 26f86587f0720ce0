"""The benchmark's workloads. Each drives ``rlr_spark`` through its public
entry points, one operation at a time, and checks every operation's output.

A workload exposes ``prepare()`` (seeded inputs), ``open()`` (anything a
user does once before working), ``op()`` (the timed operation),
``check(result)`` (untimed; raises :class:`CheckFailed` or returns the
operation's facts) and ``layer_metrics(records, log)`` (traced run only).
"""

from __future__ import annotations

import itertools
import os
import shutil
import statistics
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from rlr_spark import LABEL_MATCH, LABEL_NONMATCH, LABEL_UNCERTAIN
from rlr_spark.cli import CLReviewer
from rlr_spark.datagen import generate_web_pages, write_web_pages
from rlr_spark.operators.review import label_counts
from rlr_spark.pipeline import STAGES, Pipeline, PipelineConfig
from rlr_spark.sources.packet import ReviewPacket, ReviewSession

from tracing import make_catalog


class CheckFailed(Exception):
    """An operation ran but its output is wrong."""


def _median_of(per_op: list[dict]) -> dict:
    return {k: statistics.median(m[k] for m in per_op) for k in per_op[0]}


def _same_cluster_pairs(ids, clusters) -> set[tuple[str, str]]:
    members = defaultdict(list)
    for i, c in zip(ids, clusters):
        members[c].append(i)
    return {
        pair for m in members.values() for pair in itertools.combinations(sorted(m), 2)
    }


def _pairwise_f1(pred: set, true: set) -> float:
    tp = len(pred & true)
    return 2 * tp / (len(pred) + len(true)) if pred or true else 1.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


class PipelineFloor:
    """``Pipeline.run(pages, force=True)`` on a fresh warehouse, then a count
    of the cluster table. Small enough that fixed per-stage cost (Spark jobs,
    commits, catalog re-reads, manifests) dominates the wall."""

    name = "pipeline_floor"
    pages = 1_000
    warmup_ops = 3
    config = PipelineConfig(salt_k=8, max_block_size=2_000)

    def __init__(self, spark, work: str, seed: int, tracer, cores: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.cores = tracer, cores
        self.items_per_op = self.pages
        self.totals = None
        self.min_f1 = 1.0
        self._n_ops = 0

    def prepare(self) -> None:
        pages_path, truth_path = write_web_pages(
            os.path.join(self.work, "data"), n_pages=self.pages, seed=self.seed
        )
        self.corpus = self.spark.read.parquet(pages_path)
        truth = pq.read_table(truth_path)
        self.true_pairs = _same_cluster_pairs(
            truth.column("url").to_pylist(), truth.column("entity_id").to_pylist()
        )

    def open(self) -> None:
        pass

    def op(self):
        wh = os.path.join(self.work, f"wh{self._n_ops}")
        self._n_ops += 1
        pipe = Pipeline(self.spark, make_catalog(self.spark, wh, self.tracer), self.config)
        out = pipe.run(self.corpus, force=True)
        return pipe, out, out["cluster"].count()

    def check(self, result) -> dict:
        pipe, out, rows = result
        try:
            return self._check(pipe, out, rows)
        finally:
            shutil.rmtree(pipe.catalog.root, ignore_errors=True)

    def _check(self, pipe, out, rows: int) -> dict:
        # the F1 check is computed here, independently of the program's own
        # evaluation code, against the planted truth
        ids, clusters = zip(*out["cluster"].select("url", "entity_id").collect())
        f1 = _pairwise_f1(_same_cluster_pairs(ids, clusters), self.true_pairs)
        entities = len(set(clusters))
        manifests = {s: pipe.read_manifest(s) for s in STAGES}
        windows = {}
        for s in STAGES:
            end = os.path.getmtime(os.path.join(pipe.manifest_dir, f"{s}.json"))
            windows[s] = (end - manifests[s]["duration_sec"], end)
        facts = {
            "pairs": manifests["pairs"]["rows"],
            "dropped_blocks": sum(
                b["n_dropped_blocks"] for b in manifests["pairs"].get("block_stats", [])
            ),
            "scored": manifests["score"]["rows"],
            "entities": entities,
            "f1": f1,
            "windows": windows,
        }
        if self.tracer.enabled:
            facts["match_pairs"] = (
                out["score"].where(F.col("rlr_label") == LABEL_MATCH).count()
            )
        if rows != self.pages or len(ids) != self.pages:
            raise CheckFailed(f"cluster table has {rows} rows for {self.pages} pages")
        if f1 < 0.99:
            raise CheckFailed(f"pairwise F1 {f1:.4f} < 0.99")
        self.min_f1 = min(f1, self.min_f1)
        totals = (facts["pairs"], entities, rows)
        if self.totals is None:
            self.totals = totals
        elif totals != self.totals:
            raise CheckFailed(f"totals {totals} differ from the first operation's {self.totals}")
        return facts

    def shape(self) -> dict:
        pairs, entities, _rows = self.totals
        return {
            "pages": self.pages,
            "candidate_pairs": pairs,
            "entities": entities,
            "min_f1": self.min_f1,
        }

    def layer_metrics(self, records: list[dict], log) -> dict:
        per_op = []
        for r in records:
            m, in_stages = {}, 0.0
            for s in STAGES:
                t0, t1 = r["windows"][s]
                m[f"{s}.wall_ms"] = (t1 - t0) * 1000
                for k, v in log.window_stats(t0, t1, self.cores).items():
                    m[f"{s}.{k}"] = v
                in_stages += t1 - t0
            score_s = r["windows"]["score"][1] - r["windows"]["score"][0]
            writes = self.tracer.within("catalog.write", r["start"], r["end"])
            reads = self.tracer.within("catalog.read", r["start"], r["end"])
            m.update({
                "pipeline.jobs": log.jobs_in(r["start"], r["end"]),
                "pipeline.outside_stages_ms": (r["wall"] - in_stages) * 1000,
                "blocking.candidate_pairs": r["pairs"],
                "blocking.dropped_blocks": r["dropped_blocks"],
                "blocking.match_share": r["match_pairs"] / max(r["pairs"], 1),
                "score.pairs_per_s": r["scored"] / score_s,
                "catalog.writes": len(writes),
                "catalog.write_ms": sum(s["end"] - s["start"] for s in writes) * 1000,
                "catalog.reads": len(reads),
                "catalog.read_ms": sum(s["end"] - s["start"] for s in reads) * 1000,
            })
            per_op.append(m)
        return _median_of(per_op)


class ReviewSessionWorkload:
    """One scripted reviewer on a seeded packet. L and R are the seeded pages
    under different id names; the pair table holds every planted-truth pair
    plus seeded random pairs. One operation is one keystroke cycle: label the
    current pair (keyed upsert plus parquet autosave), advance, render."""

    name = "review_session"
    pages = 2_000
    non_pairs = 30_000
    warmup_ops = 3
    labels = [LABEL_MATCH, LABEL_NONMATCH, LABEL_UNCERTAIN]

    def __init__(self, spark, work: str, seed: int, tracer, cores: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.tracer, self.cores = tracer, cores
        self.items_per_op = 1
        self.packet_path = os.path.join(work, "packet.json")
        self.autosave = os.path.join(work, "reviewed.parquet")
        self.saved: dict[tuple[str, str], str] = {}

    def prepare(self) -> None:
        pages, truth = generate_web_pages(self.pages, seed=self.seed)
        for side in ("l", "r"):
            df = pages[["url", "text", "lang"]].add_prefix(f"{side}_")
            pq.write_table(
                pa.Table.from_pandas(df, preserve_index=False),
                os.path.join(self.work, f"{side.upper()}.parquet"),
            )
        same = truth.merge(truth, on="entity_id")
        same = same[same.url_x < same.url_y]
        rng = np.random.RandomState([self.seed, 1])
        a = rng.randint(0, self.pages, self.non_pairs)
        b = rng.randint(0, self.pages, self.non_pairs)
        pairs = pd.concat([
            pd.DataFrame({"l_url": same.url_x.values, "r_url": same.url_y.values}),
            pd.DataFrame({"l_url": pages.url.values[a], "r_url": pages.url.values[b]}),
        ]).drop_duplicates(ignore_index=True)
        pq.write_table(
            pa.Table.from_pandas(pairs, preserve_index=False),
            os.path.join(self.work, "pairs.parquet"),
        )
        entity = dict(zip(truth.url, truth.entity_id))
        # the scripted answer: choice 1 (Match) for planted pairs, 2 otherwise
        self.answers = {
            (l, r): "1" if entity[l] == entity[r] else "2"
            for l, r in zip(pairs.l_url, pairs.r_url)
        }
        ReviewPacket(
            file_L=os.path.join(self.work, "L.parquet"),
            file_L_ids=["l_url"],
            file_R=os.path.join(self.work, "R.parquet"),
            file_R_ids=["r_url"],
            file_comps=os.path.join(self.work, "pairs.parquet"),
            var_group_schema=[
                {"name": "Text", "lvars": ["l_text"], "rvars": ["r_text"]},
                {"name": "Language", "lvars": ["l_lang"], "rvars": ["r_lang"]},
            ],
            label_choices=self.labels,
        ).save(self.packet_path)

    def open(self) -> None:
        with self.tracer.span("packet.open"):
            session = ReviewSession(self.spark, ReviewPacket.load(self.packet_path))
        with self.tracer.span("reviewer.init"):
            self.reviewer = CLReviewer(
                session,
                comp_pairs_path=self.autosave,
                packet_path=self.packet_path,
                print_fn=lambda _line: None,
            )

    def op(self):
        rev = self.reviewer
        idx = rev.session.cursor
        key = rev.keys[idx]
        choice = self.answers[key]
        with self.tracer.span("review.save"):
            rev.process_choice(choice)
        with self.tracer.span("review.advance"):
            rev.process_choice("n")
        with self.tracer.span("review.render"):
            text = rev.render_current()
        return idx, key, choice, text

    def check(self, result) -> dict:
        idx, key, choice, text = result
        rev = self.reviewer
        self.saved[key] = self.labels[int(choice) - 1]
        if f"Record Pair {idx + 2}/{rev.n}" not in text or "not found" in text:
            raise CheckFailed(f"render after pair {idx + 1} shows the wrong pair")
        on_disk = pq.read_table(self.autosave, columns=["l_url", "r_url", "rlr_label"])
        if on_disk.num_rows != rev.n:
            raise CheckFailed(f"autosave holds {on_disk.num_rows} rows, not {rev.n}")
        got = {
            (l, r): lab
            for l, r, lab in zip(*(on_disk.column(c).to_pylist() for c in on_disk.column_names))
            if lab
        }
        if got != self.saved:
            raise CheckFailed("labels on disk differ from the scripted answers")
        counted = sum(r["count"] for r in label_counts(rev.pairs, self.labels).collect())
        if counted != rev.n:
            raise CheckFailed(f"label_counts sums to {counted}, not {rev.n}")
        return {
            "bytes_written": _dir_bytes(self.autosave) + _dir_bytes(self.autosave + ".tmp")
        }

    def shape(self) -> dict:
        return {"pages": self.pages, "pair_rows": self.reviewer.n}

    def layer_metrics(self, records: list[dict], log) -> dict:
        def ms(name, t0, t1):
            return sum(s["end"] - s["start"] for s in self.tracer.within(name, t0, t1)) * 1000

        per_op = [
            {
                "review.save_ms": ms("review.save", r["start"], r["end"]),
                "review.render_ms": ms("review.render", r["start"], r["end"]),
                "review.jobs_per_cycle": log.jobs_in(r["start"], r["end"]),
                "review.bytes_written_per_save": r["bytes_written"],
            }
            for r in records
        ]
        out = _median_of(per_op)
        out["packet.open_ms"] = ms("packet.open", 0, float("inf"))
        out["reviewer.init_ms"] = ms("reviewer.init", 0, float("inf"))
        return out


WORKLOADS = {w.name: w for w in (PipelineFloor, ReviewSessionWorkload)}
