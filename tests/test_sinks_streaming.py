"""Sink pivot/merge semantics, J2 re-admit, and Structured Streaming wrappers."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from dmp_crawler_spark.sinks import tables
from dmp_crawler_spark.streaming import jobs


def test_pivot_family(spark):
    rows = [
        ("u1", "0003NNNN_1", "user_info", {"name": "a", "sex": "0", "city": "北京",
                                           "following": "1,2", "followers": "2"}),
        ("u2", "0003NNNN_2", "user_info", {"name": "b", "sex": "1", "city": "上海",
                                           "following": "", "followers": "0"}),
        ("u3", "k3", "route_info", {"route_name": "r", "route_type": "自助游"}),
    ]
    df = spark.createDataFrame(
        rows, "url string, rowkey string, family string, cols map<string,string>"
    )
    users = tables.pivot_family(df, "user_info")
    got = {r["rowkey"]: r["city"] for r in users.collect()}
    assert got == {"0003NNNN_1": "北京", "0003NNNN_2": "上海"}
    assert set(users.columns) == {"rowkey", *tables.FAMILY_SCHEMAS["user_info"]}


def test_merge_latest(spark):
    rows = [
        ("k1", "f", {"v": "old"}, 1),
        ("k1", "f", {"v": "new"}, 2),
        ("k2", "f", {"v": "only"}, 1),
    ]
    df = spark.createDataFrame(
        rows, "rowkey string, family string, cols map<string,string>, crawl_iter int"
    )
    out = {r["rowkey"]: r["cols"]["v"] for r in tables.merge_latest(df).collect()}
    assert out == {"k1": "new", "k2": "only"}


def test_readmit_expired(spark, tmp_path):
    from dmp_crawler_spark.corpus import generator, templates
    from dmp_crawler_spark.frontier.scheduler import CorpusFetcher, CrawlEngine

    n = 200
    corpus = str(tmp_path / "pages")
    generator.write_pages(spark, n, corpus, partitions=4)
    eng = CrawlEngine(
        spark, str(tmp_path / "state"), CorpusFetcher(spark, corpus),
        generator.generate_site_rules(spark), per_host_budget=3, n_bloom_shards=8,
    )
    seeds = spark.createDataFrame(
        [(templates.url_for(i * 31 % n, n), "") for i in range(5)],
        "seed string, site string",
    )
    eng.init_from_seeds(seeds)
    eng.run(max_iters=3)
    # expected re-admits, derived in Python: every url whose latest crawl
    # is ≥ ttl=1 iteration old, minus the urls still pending
    ck = eng.last_checkpoint()
    k = ck["iter"]
    latest: dict[str, int] = {}
    for r in eng.crawled_df().select("url", "crawl_iter").collect():
        latest[r["url"]] = max(latest.get(r["url"], 0), r["crawl_iter"])
    assert latest
    pending = {r["url"] for r in
               eng.frontier_view(k, ck["frontier_base"]).select("url").collect()}
    expired = {u for u, it in latest.items() if it <= k - 1} - pending
    assert expired

    n_re = eng.readmit_expired(ttl_iters=1)
    ck = eng.last_checkpoint()
    view = eng.frontier_view(ck["iter"], ck["frontier_base"])
    assert n_re == len(expired)
    assert {r["url"] for r in view.select("url").collect()} == pending | expired
    assert sum(ck["frontier_shards"].values()) == view.count()
    # re-admitted urls crawl again on the next step
    m = eng.step()
    assert m["admitted"] > 0
    # the frontier checkpoint chain stays consistent
    assert eng.last_checkpoint()["iter"] == 4


def test_per_partition_metrics(spark, tmp_path):
    from dmp_crawler_spark.corpus import generator, templates
    from dmp_crawler_spark.frontier.scheduler import CorpusFetcher, CrawlEngine

    n = 200
    corpus = str(tmp_path / "pages")
    generator.write_pages(spark, n, corpus, partitions=4)
    eng = CrawlEngine(
        spark, str(tmp_path / "state"), CorpusFetcher(spark, corpus),
        generator.generate_site_rules(spark), per_host_budget=3, n_bloom_shards=8,
    )
    eng.init_from_seeds(spark.createDataFrame(
        [(templates.url_for(7, n), "")], "seed string, site string"))
    eng.run(max_iters=2)
    metrics = spark.read.parquet(os.path.join(str(tmp_path / "state"), "metrics"))
    rows = metrics.collect()
    assert len(rows) > 0
    total_admitted = sum(r["n_admitted"] or 0 for r in rows)
    # every admitted URL is accounted for in exactly one shard row
    assert total_admitted == eng.crawled_df().count()
    assert all(0 <= r["shard"] < 8 for r in rows)


def test_windowed_event_counts_batch(spark):
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    out = jobs.windowed_event_counts(ev, window="1 hour")
    rows = out.collect()
    assert sum(r["n"] for r in rows) == ev.count()


def test_windowed_event_counts_streaming_drops_late(spark, tmp_path):
    """True streaming semantics: append-mode windows finalize when the
    watermark passes their end, and an event arriving AFTER its window's
    watermark cutoff is dropped. Two micro-batches (maxFilesPerTrigger=1,
    file mtimes pinned so ordering is deterministic): batch 1 advances the
    watermark past the 09:00 window; batch 2's 09:50 straggler must not
    appear in the finalized count."""
    import json as _json
    import os

    src = tmp_path / "events_src"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        with open(p, "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")
        os.utime(p, (mtime, mtime))

    day = "2016-08-01"
    # batch 0: establishes the 09:00 window and pushes max event time to
    # 12:05 (watermark 10:05 effective from batch 1 on)
    write("f1.json", [
        {"event_type": "A", "ts": f"{day} 09:30:00", "value": 1.0},
        {"event_type": "A", "ts": f"{day} 09:45:00", "value": 1.0},
        {"event_type": "B", "ts": f"{day} 12:05:00", "value": 1.0},
    ], 1_000_000_000)
    # batch 1: innocuous row; at END of this batch the 09:00 window
    # (end 10:00 < watermark 10:05) is evicted and EMITTED with n=2 —
    # state eviction lags one batch behind the watermark-advancing data
    write("f2.json", [
        {"event_type": "B", "ts": f"{day} 12:10:00", "value": 1.0},
    ], 1_000_000_010)
    # batch 2: the straggler — its window's state is gone, so the row is
    # dropped by the watermark (numRowsDroppedByWatermark) and the
    # finalized count never changes
    write("f3.json", [
        {"event_type": "A", "ts": f"{day} 09:50:00", "value": 1.0},
    ], 1_000_000_020)

    stream = (
        spark.readStream.schema("event_type string, ts timestamp, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = jobs.windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory").queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in (p.get("stateOperators") or [])
    )
    rows = {
        (r["window_start"].strftime("%H:%M"), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM late_test").collect()
    }
    # the 09:00 window finalized with 2 events — the straggler was dropped
    assert rows.get(("09:00", "A")) == 2
    assert dropped == 1
    # the 12:00 window never finalized (watermark never passed 13:00)
    assert not any(k[0] == "12:00" for k in rows)


def test_stateful_token_bucket(spark, tmp_path):
    """applyInPandasWithState politeness: batch 1 drains the bucket under
    the cap; state (remaining tokens) survives a restart through the
    streaming checkpoint, bounding the NEXT run's admissions too."""
    import json as _json

    from dmp_crawler_spark.streaming.stateful import host_token_bucket

    src = tmp_path / "req"
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    schema = "url string, host string, depth int, discovery_iter int"

    def write_batch(name: str, rows):
        (src / name).write_text(
            "\n".join(_json.dumps(r) for r in rows), encoding="utf-8"
        )

    out = str(tmp_path / "admitted")

    def run_once() -> set:
        stream = spark.readStream.schema(schema).json(str(src))
        admitted = host_token_bucket(stream, capacity=3, refill=2)
        q = (
            admitted.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return {r["url"] for r in spark.read.parquet(out).collect()}

    write_batch(
        "b1.json",
        [{"url": f"http://h0.x/{i}", "host": "h0", "depth": 0,
          "discovery_iter": 0} for i in range(5)],
    )
    got1 = run_once()
    # capacity 3: the 3 lowest-url requests admitted, 2 dropped
    assert got1 == {f"http://h0.x/{i}" for i in range(3)}

    write_batch(
        "b2.json",
        [{"url": f"http://h0.x/n{i}", "host": "h0", "depth": 0,
          "discovery_iter": 1} for i in range(5)],
    )
    got2 = run_once() - got1
    # restart resumed state: bucket was 0+2 refill → only 2 admitted
    assert got2 == {"http://h0.x/n0", "http://h0.x/n1"}


def test_work_stream_foreachbatch(spark, tmp_path):
    src = tmp_path / "work"
    src.mkdir()
    items = [
        {"biz": "b1", "mid": "m1", "idx": "0", "sn": "s", "date_str": "2016-08-01"},
        {"biz": "b2", "mid": "m2", "idx": "-1", "sn": "s", "date_str": "2016-08-01"},
        {"biz": "b3", "mid": "m3", "idx": "1", "sn": "s", "date_str": "2016-08-02"},
    ]
    with open(src / "w.json", "w") as f:
        for it in items:
            f.write(json.dumps(it) + "\n")
    seen = []

    def proc(df, batch_id):
        seen.extend(r["biz"] for r in df.collect())

    q = jobs.run_work_stream(
        jobs.read_work_stream(spark, str(src)), proc,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(60)
    # poison-pill rows (idx=-1) are filtered; the rest processed exactly once
    assert sorted(seen) == ["b1", "b3"]


def test_search_index_sink(spark, tmp_path):
    """S9: posting table + ranked term-match search; bucketed persistence
    round-trips and the ranking is deterministic."""
    from dmp_crawler_spark.sinks import search as search_sink

    docs = spark.createDataFrame(
        [
            (1, "hash join hash join scan"),      # 3 terms, tf 5
            (2, "hash hash hash hash hash"),      # 1 term, tf 5
            (3, "join scan"),                     # 2 terms, tf 2
            (4, "sort merge window"),             # 0 terms
            (5, "scan join hash"),                # 3 terms, tf 3
        ],
        "doc_id long, text string",
    )
    idx = search_sink.build_search_index(docs)
    out = search_sink.search(idx, "hash join scan", k=3).collect()
    assert [(r["id"], r["n_terms"], r["score"], r["rank"]) for r in out] == [
        (1, 3, 5, 1), (5, 3, 3, 2), (3, 2, 2, 3)
    ]
    # bucketed persistence round-trip
    search_sink.write_search_index(
        idx, "t_search_idx_test", str(tmp_path / "idx"), n_buckets=4
    )
    back = spark.table("t_search_idx_test")
    assert back.count() == idx.count()
    out2 = search_sink.search(back, "hash join scan", k=3).collect()
    assert [r["id"] for r in out2] == [1, 5, 3]
    spark.sql("DROP TABLE t_search_idx_test")


def test_streaming_exact_dedup(spark, tmp_path):
    """First arrival of each fingerprint wins; later copies (same batch or
    a later batch inside the watermark) are dropped; distinct texts pass."""
    import json as _json
    import os

    src = tmp_path / "docs"
    src.mkdir()

    def write(name, rows, mtime):
        p = src / name
        p.write_text("\n".join(_json.dumps(r) for r in rows))
        os.utime(p, (mtime, mtime))

    day = "2016-05-01"
    write("d1.json", [
        {"doc_id": 1, "ts": f"{day} 09:00:00", "text": "alpha beta gamma"},
        {"doc_id": 2, "ts": f"{day} 09:01:00", "text": "alpha   beta  gamma"},
        {"doc_id": 3, "ts": f"{day} 09:02:00", "text": "something else"},
    ], 1_000_000_000)
    write("d2.json", [
        {"doc_id": 4, "ts": f"{day} 09:10:00", "text": "Alpha Beta Gamma"},
        {"doc_id": 5, "ts": f"{day} 09:11:00", "text": "a fresh document"},
    ], 1_000_000_010)

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = jobs.streaming_exact_dedup(stream, watermark="1 hour")
    q = (
        out.writeStream.format("memory").queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ids = sorted(
        r["doc_id"] for r in spark.sql("SELECT * FROM dedup_stream").collect()
    )
    # doc 2 (whitespace-normalized dup of 1, same batch) and doc 4
    # (case-normalized dup of 1, later batch) are dropped
    assert ids == [1, 3, 5]
