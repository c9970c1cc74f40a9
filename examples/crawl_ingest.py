#!/usr/bin/env python
"""Crawl-ingest example: Common-Crawl-shaped curation entry point.

Two overlapping "crawl snapshots" (WET shards written from the
``documents`` fixture) flow through the incremental crawl stack:

  per snapshot:
    → WET scan (pure-Python ISO 28500 codec, task per shard)
    → URL-level incremental dedup against the persisted Bloom store
      (fixed n_bits of state per host bucket FOREVER — false means
      definitely new; prior snapshots' URLs never re-ingested)
    → append this snapshot's filter to the store
    → substring-duplication gate (stride-1 exact-substring signal;
      drop documents mostly made of corpus-duplicated passages)
    → language/quality annotation
    → token counts → fixed-budget sequence packing
    → curated parquet partitioned by snapshot.

Every stage is a Catalyst-planned DataFrame transform; state between
snapshots lives in the Bloom store's fixed-size filters, not key sets.

Usage: python examples/crawl_ingest.py [sf_dir] [work_dir]
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from physicsnemo_curator_spark.operators import sketches, textops  # noqa: E402
from physicsnemo_curator_spark.operators.packing import pack_sequences  # noqa: E402
from physicsnemo_curator_spark.session import get_spark  # noqa: E402
from physicsnemo_curator_spark.sources.tables import load_table  # noqa: E402
from physicsnemo_curator_spark.sources.warc import read_wet, write_wet  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/pcs_crawl_ingest"
    if os.path.exists(work):
        shutil.rmtree(work)
    os.makedirs(work)
    spark = get_spark(app_name="pcs-crawl-ingest", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    # ---- materialize two overlapping crawl snapshots as WET shards
    snapshots = {
        "2024-10": docs.filter("doc_id % 3 < 2"),  # ~2/3 of the corpus
        "2024-18": docs.filter("doc_id % 3 > 0"),  # overlaps 1/3
    }
    shard_dirs: dict[str, list[str]] = {}
    for snap, frame in snapshots.items():
        d = os.path.join(work, f"wet_{snap}")
        os.makedirs(d)
        rows = frame.collect()  # fixture materialization only
        paths = []
        for shard in range(2):
            p = os.path.join(d, f"shard{shard}.warc.wet.gz")
            write_wet(
                p,
                [
                    {
                        "uri": f"https://h{r['doc_id'] % 7}.example/{r['doc_id']}",
                        "text": r["text"],
                    }
                    for r in rows
                    if r["doc_id"] % 2 == shard
                ],
            )
            paths.append(p)
        shard_dirs[snap] = paths

    bloom_store = os.path.join(work, "url_bloom")
    out = os.path.join(work, "curated")

    prior_snaps: list[str] = []
    for snap, paths in shard_dirs.items():
        scanned = read_wet(spark, paths, lang_id=False, keep_uri=True).select(
            "uri", "source", "text"
        )
        n_in = scanned.count()

        # ---- URL-level incremental dedup against PRIOR snapshots.
        # batches= is pinned explicitly: `fresh` is lazy and re-executes
        # downstream AFTER this snapshot's own filter lands in the
        # store — an unpinned probe would then match every row against
        # itself and silently write the snapshot out empty.
        if prior_snaps:
            probed = sketches.probe_bloom_store(
                spark,
                bloom_store,
                scanned,
                ["source"],
                "uri",
                batches=list(prior_snaps),
            )
            fresh = probed.filter(~F.col("might_contain")).drop(
                "might_contain"
            )
        else:
            fresh = scanned
        n_new = fresh.count()
        sketches.append_bloom_store(
            scanned,
            bloom_store,
            ["source"],
            "uri",
            batch_id=snap,
            n_bits=65536,
        )
        prior_snaps.append(snap)

        # ---- substring-duplication gate (within this snapshot)
        keyed = fresh.withColumn(
            "doc_id", F.xxhash64("uri")
        )
        dup = textops.duplicated_substring_stats(keyed, min_tokens=8, min_count=2)
        keep_ids = dup.filter(F.col("dup_fraction") <= 0.5).select("doc_id")
        gated = keyed.join(keep_ids, "doc_id")
        n_gated = gated.count()

        # ---- quality annotation + packing
        feats = textops.with_text_features(gated)
        packed = pack_sequences(
            feats.select("doc_id", F.col("n_tokens_ws").alias("n_tokens")),
            budget=512,
            total_docs=n_gated,
        )
        curated = (
            gated.join(
                packed.select("doc_id", "bucket", "pack_index"), "doc_id"
            )
            .withColumn("snapshot", F.lit(snap))
        )
        curated.write.mode("append").partitionBy("snapshot").parquet(out)
        print(
            f"snapshot {snap}: {n_in} scanned, {n_new} new urls, "
            f"{n_gated} past dup gate"
        )

    total = spark.read.parquet(out).count()
    print(f"curated rows written: {total} -> {out}")
    spark.stop()


if __name__ == "__main__":
    main()
