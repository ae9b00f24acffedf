"""The ``ingest_days`` workload: a multi-day document ingest.

Each day: pick up the landing file (``incremental_read``), near-dup
match the delta against the persisted signature index
(``sig_index_match``), write the accepted delta (``write_partitioned``),
sign it into the index (``sig_index_ingest``), grow the IVF and LSH
indexes with the accepted delta's embeddings (init/build on day 1,
append after), compact on the cadence (``maybe_compact_indexes``),
commit the pickup, then run a fixed batch of ANN probes
(``ivf_index_query``, ``lsh_index_query``). One round is all days on
fresh index directories; the landing files are shared.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import nullcontext

import numpy as np
import pandas as pd

import docs as docgen
from oracle_gps import require

OPS_PER_DAY = 10
LAYERS = [
    "sources.incremental",
    "dataprep.sigindex.match",
    "sources.writers",
    "dataprep.sigindex.ingest",
    "dataprep.ivfindex.append",
    "dataprep.lshindex.append",
    "dataprep.ingest.compact",
    "dataprep.ivfindex.query",
    "dataprep.lshindex.query",
]


class Inputs:
    def __init__(self, spark, feed: docgen.Feed, root: str):
        self.feed = feed
        self.landing = [os.path.join(root, "landing", f"day{k}") for k in range(1, feed.days + 1)]
        self.emb = [os.path.join(root, "emb", f"day{k}.parquet") for k in range(1, feed.days + 1)]
        os.makedirs(os.path.join(root, "emb"), exist_ok=True)
        for k in range(feed.days):
            docgen.write_day(feed, k + 1, self.landing[k], self.emb[k])
        self.queries = spark.createDataFrame(
            pd.DataFrame({"query_id": feed.probe_ids,
                          "query_vec": [v.tolist() for v in feed.probe_vecs]}),
            "query_id long, query_vec array<double>")


def run_round(spark, inp: Inputs, state_dir: str, tracer=None) -> dict:
    """All days of one round. ``tracer`` wraps each call in a span and
    materializes the match inside its own span; without it the day body
    is the plain loop a user writes."""
    from pyspark.sql import functions as F

    from gpssbzd_spark.dataprep.ingest import maybe_compact_indexes
    from gpssbzd_spark.dataprep.ivfindex import ivf_index_append, ivf_index_init, ivf_index_query
    from gpssbzd_spark.dataprep.lshindex import lsh_index_append, lsh_index_build, lsh_index_query
    from gpssbzd_spark.dataprep.sigindex import sig_index_ingest, sig_index_match
    from gpssbzd_spark.sources.incremental import incremental_read
    from gpssbzd_spark.sources.writers import write_partitioned

    def span(name, layer):
        return tracer.span(name, layer) if tracer else nullcontext()

    sig_dir, ivf_dir, lsh_dir = (os.path.join(state_dir, d) for d in ("sig", "ivf", "lsh"))
    pickup = os.path.join(state_dir, "pickup")
    probes: list[tuple[int, str, pd.DataFrame]] = []
    probe_s: dict[str, list[float]] = {"ivf": [], "lsh": []}
    accepted_dirs = []
    for day in range(1, inp.feed.days + 1):
        with span(f"day{day}", None):
            with span("incremental_read", "sources.incremental"):
                new_docs, _, commit = incremental_read(spark, inp.landing[day - 1], pickup)
            require(new_docs is not None, f"day {day}: pickup found nothing")
            with span("sig_index_match", "dataprep.sigindex.match"):
                matches = sig_index_match(spark, sig_dir, new_docs)
                matched = None
                if matches is not None:
                    matched = matches.select(F.col("delta_id").alias("doc_id")).distinct()
                    if tracer:
                        matched = spark.createDataFrame(matched.toPandas(), "doc_id long")
            adir = os.path.join(state_dir, "accepted", f"day{day}")
            accepted_dirs.append(adir)
            with span("write_partitioned", "sources.writers"):
                accepted = new_docs if matched is None else new_docs.join(matched, "doc_id", "left_anti")
                write_partitioned(accepted, adir)
            with span("sig_index_ingest", "dataprep.sigindex.ingest"):
                sig_index_ingest(spark, adir, sig_dir)
            delta = spark.read.parquet(inp.emb[day - 1]).join(
                spark.read.parquet(adir).select(F.col("doc_id").alias("vec_id")), "vec_id",
                "left_semi")
            with span("ivf_index_append", "dataprep.ivfindex.append"):
                if day == 1:
                    ivf_index_init(spark, ivf_dir, delta, dim=docgen.DIM)
                else:
                    ivf_index_append(spark, ivf_dir, delta, f"day{day}")
            with span("lsh_index_append", "dataprep.lshindex.append"):
                if day == 1:
                    lsh_index_build(spark, lsh_dir, delta, dim=docgen.DIM)
                else:
                    lsh_index_append(spark, lsh_dir, delta, f"day{day}")
            with span("maybe_compact_indexes", "dataprep.ingest.compact"):
                maybe_compact_indexes(spark, day, inp.feed.compact_every, sig_index_dir=sig_dir,
                                      ivf_index_dir=ivf_dir, lsh_index_dir=lsh_dir)
            with span("commit", "sources.incremental"):
                commit()
            for kind, query, directory in (("ivf", ivf_index_query, ivf_dir),
                                           ("lsh", lsh_index_query, lsh_dir)):
                with span(f"{kind}_index_query", f"dataprep.{kind}index.query"):
                    t0 = time.time()
                    got = query(spark, directory, inp.queries).toPandas()
                    probe_s[kind].append(time.time() - t0)
                probes.append((day, kind, got))
    return {"sig_dir": sig_dir, "ivf_dir": ivf_dir, "lsh_dir": lsh_dir,
            "accepted_dirs": accepted_dirs, "probes": probes, "probe_s": probe_s}


def check(spark, inp: Inputs, rnd: dict) -> dict:
    """The accepted sets, the three indexes and the probe answers
    against the benchmark's own accounting of the feed."""
    from gpssbzd_spark.dataprep.ivfindex import ivf_index_read
    from gpssbzd_spark.dataprep.lshindex import lsh_index_read
    from gpssbzd_spark.dataprep.sigindex import sig_index_read

    feed = inp.feed
    by_id = {d.doc_id: d for d in feed.docs}
    accepted_texts: set[str] = set()
    accepted_ids: set[int] = set()
    indexed_by_day: list[set[int]] = []
    rejected_copies = 0
    for day, adir in enumerate(rnd["accepted_dirs"], start=1):
        ids = set(pd.read_parquet(adir, columns=["doc_id"])["doc_id"].tolist())
        offered = {d.doc_id for d in feed.day(day)}
        require(ids <= offered, f"day {day}: accepted ids that did not land")
        if day == 1:
            require(ids == offered, "day 1: the empty index rejected documents")
        for doc_id in offered - ids:
            rejected_copies += by_id[doc_id].text in accepted_texts
        for doc_id in ids:
            require(by_id[doc_id].text not in accepted_texts,
                    f"day {day}: {doc_id} repeats an accepted text")
        accepted_texts |= {by_id[i].text for i in ids}
        accepted_ids |= ids
        indexed_by_day.append({i for i in accepted_ids if by_id[i].embedding is not None})
    injected = sum(d.kind == "exact" for d in feed.docs)
    require(rejected_copies == injected, f"{rejected_copies} of {injected} exact re-sends rejected")

    sig_rows = sig_index_read(spark, rnd["sig_dir"]).count()
    require(sig_rows == len(accepted_ids),
            f"signature index holds {sig_rows} rows for {len(accepted_ids)} accepted documents")
    want = indexed_by_day[-1]
    ivf = ivf_index_read(spark, rnd["ivf_dir"]).select("vec_id").toPandas()["vec_id"]
    require(ivf.is_unique and set(ivf) == want, "IVF index ids differ from the accepted embedded ids")
    lsh = lsh_index_read(spark, rnd["lsh_dir"]).groupBy("vec_id").count().toPandas()
    require(set(lsh["vec_id"]) == want, "LSH index ids differ from the accepted embedded ids")
    require(lsh["count"].nunique() == 1, "LSH index holds vectors in unequal numbers of tables")

    for day, kind, got in rnd["probes"]:
        require(len(got) > 0, f"day {day} {kind}: no probe answers")
        for q, grp in got.groupby("query_id"):
            grp = grp.sort_values("rank")
            require(set(grp["vec_id"]) <= indexed_by_day[day - 1],
                    f"day {day} {kind}: probe {q} returned an unindexed vector")
            qv = feed.probe_vecs[q]
            vecs = np.stack([by_id[i].embedding.astype(np.float64) for i in grp["vec_id"]])
            cos = vecs @ qv / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(qv))
            require(np.allclose(grp["cos_sim"].to_numpy(), cos, rtol=0, atol=1e-9),
                    f"day {day} {kind}: probe {q} scores differ from the cosine")
            require(list(grp["rank"]) == list(range(1, len(grp) + 1))
                    and bool((np.diff(grp["cos_sim"].to_numpy()) <= 1e-12).all()),
                    f"day {day} {kind}: probe {q} answers out of order")
            if q in feed.probe_copies:
                require(grp["vec_id"].iloc[0] == feed.probe_copies[q],
                        f"day {day} {kind}: probe {q} does not find the vector it copies")
    return {"accepted": len(accepted_ids), "rejected_copies": rejected_copies,
            "indexed": len(want)}


def run(spark, sc, workload: str, seed: int, seconds: float, trace: bool,
        work: str) -> tuple[dict, callable]:
    """Set up inputs, run the timed rounds or the traced round, check.
    Returns the raw figures and a function that turns the event-log
    usage into the printed metrics."""
    from measure import Tracer, layer_metrics, round_metrics, timed_rounds

    feed = docgen.generate(docgen.SIZES[workload], seed)
    inp = Inputs(spark, feed, os.path.join(work, "in"))
    ops = OPS_PER_DAY * feed.days
    if trace:
        tracer = Tracer(spark, "ingest")
        rnd = run_round(spark, inp, os.path.join(work, "state-traced"), tracer)
        summary = check(spark, inp, rnd)

        def metrics(usage):
            m = layer_metrics(tracer, usage, LAYERS)
            for kind in ("ivf", "lsh"):
                m[f"dataprep.{kind}index.query.p50_ms"] = 1e3 * statistics.median(rnd["probe_s"][kind])
            tracer.write(os.path.join(work, "spans.json"), usage)
            return m

        return {"attempted": ops, "summary": summary}, metrics

    rounds, rnd = timed_rounds(
        sc, seconds, lambda desc: run_round(spark, inp, os.path.join(work, f"state-{desc}")))
    summary = check(spark, inp, rnd)
    return ({"attempted": ops * len(rounds), "summary": summary},
            lambda usage: round_metrics(rounds, usage))
