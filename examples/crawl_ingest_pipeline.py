"""Web-crawl ingest pipeline: sitemap frontier → WARC archives →
records → CDX index → HTTP-layer decode → robots gate → HTML→text
extraction → link graph + PageRank prior → URL dedup → boilerplate
line dedup → language ID → quality gates → WET + WAT write-back.

The web-family showcase (r6-r9): everything between "a directory of
crawl archives" and "documents ready for the curation pipeline"
(examples/training_data_pipeline.py picks up from there), closing
with the Common Crawl triple's write side. Every stage is a
DataFrame transformation; archive payload bytes never leave the
executors, rule/profile side tables broadcast, and the link graph is
ranked without ranks ever visiting the driver.

Run: python examples/crawl_ingest_pipeline.py
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

from flycatcher_spark.operators import dedup, graph, langid, quality, warc, web
from flycatcher_spark.session import get_spark

DATA = "/root/testdata/sf0.01"


def main() -> None:
    spark = get_spark(app_name="crawl_ingest", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    # 0. Crawl archives: one WARC per source row, Common Crawl layout
    #    (one gzip member per record). In production this is
    #    spark.read.format("binaryFile") over the crawl bucket.
    docs = spark.read.parquet(f"{DATA}/documents.parquet")
    archives = warc.make_warc_payload(
        docs.select("doc_id"), gzip_mode="members"
    )

    # 0b. Frontier seeding (r7): each host publishes a sitemap; the
    #    parser explodes it to a URL list that feeds the next crawl.
    sitemaps = docs.select(F.col("source")).distinct().select(
        F.concat("source", F.lit(".example.com")).alias("host"),
        F.concat(
            F.lit("<urlset><url><loc>https://"), F.col("source"),
            F.lit(".example.com/</loc></url></urlset>"),
        ).alias("sitemap_xml"),
    )
    frontier = web.sitemap_entries(sitemaps)
    print("frontier seeds:", frontier.count())

    # 1. Record split: archives fan out to records inside one Arrow
    #    map stage; corrupt archives become attributable null rows.
    records = warc.warc_records(archives)
    records.groupBy("rec_type").count().orderBy("rec_type").show()

    # 1b. CDX capture index (r7): the lookup artifact shipped next to
    #    the WARCs — SURT key, timestamp, canonical URL, digest.
    warc.cdx_index(records).orderBy("surt_key").show(3, truncate=False)

    # 1c. HTTP-layer decode (r9): real crawl WARCs carry raw HTTP
    #    messages in their response blocks — status line, headers,
    #    chunked framing, gzip content-encoding. http_responses
    #    strips the envelope in the same map-only Arrow shape
    #    (passthrough columns avoid any join back to the archive
    #    scan); a charset-correct text column comes out the other
    #    side ready for html_to_text.
    http_archives = warc.make_http_warc_payload(docs.select("doc_id"))
    http_recs = warc.warc_records(http_archives)
    decoded = warc.http_responses(
        http_recs, passthrough=["rec_idx", "target_uri"]
    )
    decoded.groupBy("status").count().orderBy("status").show()

    # 2. Keep response records; attach a crawl URL per record.
    pages = (
        records.where(F.col("rec_type") == "response")
        .select(
            (F.col("doc_id") * 10 + F.col("rec_idx")).alias("page_id"),
            F.col("target_uri").alias("url"),
            F.col("body").cast("string").alias("html"),
        )
    )

    # 3. robots.txt gate (RFC 9309): per-host rules parsed once,
    #    broadcast; longest-match precedence, allow wins ties. The
    #    wildcard rule blocks every second-position page (/<id>/1).
    hosts = pages.select(
        web.host_of(web.canonical_url("url")).alias("host")
    ).distinct()
    robots = hosts.withColumn(
        "robots_txt",
        F.lit("User-agent: *\nDisallow: /*/1$\nAllow: /7/1\n"),
    )
    rules = web.robots_rules(robots, agent="flycatcher")
    gated = web.robots_gate(pages, rules).where(F.col("allowed"))
    print("pages:", pages.count(), "-> crawlable:", gated.count())

    # 4. HTML → text (pure-Column WET conversion), then recrawl
    #    dedup: a SECOND crawl of the same pages arrives under
    #    tracking-noised URLs; canonical_url collapses the variants
    #    and url_dedup keeps the best row per page.
    texts = gated.withColumn("text", web.html_to_text("html")).withColumn(
        "n_chars", F.length("text")
    ).select("page_id", "url", "text", "n_chars")
    recrawl = texts.select(
        (F.col("page_id") + 1_000_000).alias("page_id"),
        F.concat(F.col("url"), F.lit("?utm_source=recrawl&fbclid=x")).alias("url"),
        "text",
        "n_chars",
    )
    unique = web.url_dedup(
        texts.unionByName(recrawl), id_col="page_id", quality_col="n_chars"
    )
    print("two crawls:", texts.count() * 2, "-> after URL dedup:",
          unique.count())

    # 4b. Link-graph quality prior (r7): anchors → resolved host
    #    edges → 3 exact PageRank iterations; ranks join back as a
    #    per-host prior (here the fixture HTML has no cross-host
    #    links, so the graph is tiny — the shape is the point).
    linked = gated.withColumn(
        "html2",
        F.concat(
            F.col("html"),
            F.lit('<a href="https://hub.example.com/x">hub</a>'),
        ),
    )
    edges = web.host_links(linked.select("url", F.col("html2").alias("html")))
    ranks = graph.pagerank(edges, iterations=3)
    ranks.orderBy(F.desc("rank")).show(5, truncate=False)

    # 4c. Cross-document line dedup (r7): the site template's footer
    #    line appears in every page → removed everywhere; real
    #    content survives in order.
    footer = F.lit("(c) example.com — all rights reserved")
    with_footer = unique.withColumn("text", F.concat_ws("\n", "text", footer))
    deduped_lines = dedup.line_dedup(
        with_footer, id_col="page_id"
    ).withColumnRenamed("text_dedup", "text")
    print(
        "boilerplate lines removed:",
        deduped_lines.agg(F.sum("n_removed")).first()[0],
    )
    unique = unique.drop("text").join(
        deduped_lines.select("page_id", "text"), "page_id"
    )

    # 5. Language ID from learned char-trigram profiles (labels come
    #    from a small labeled sample — here the fixture's lang column)
    profiles = langid.train_langid_profiles(
        docs.select("lang", "text").where(F.col("doc_id") % 10 == 0),
        top_k=200,
    )
    tagged = unique.join(
        langid.langid_predict(unique, profiles, id_col="page_id"),
        "page_id",
    )
    tagged.groupBy("lang_pred").count().orderBy("lang_pred").show()

    # 6. Quality gates before the corpus pipeline takes over:
    #    blocklist (kernel path — cost independent of list size) +
    #    Gopher word-count floor.
    blocked = ["casino bonus", "viagra"]
    ready = tagged.where(
        quality.blocklist_pass("text", blocked, impl="kernel")
        & (F.size(F.split(F.col("text"), r"\s+")) >= 3)
    )
    print("ready for curation:", ready.count())
    ready.select("page_id", "url", "lang_pred", "n_chars").show(
        5, truncate=60
    )

    # 7. Close the loop (r8/r9): the curated corpus ships back out in
    #    the Common Crawl triple — WET shards carry the extracted
    #    text, WAT shards the per-page metadata (status, title,
    #    outgoing links for the next crawl's frontier). Both use the
    #    same deterministic md5-order sharding; page data shuffles
    #    exactly once, into its shard's single pack task.
    wet = warc.write_wet(
        ready.select("url", "text"), records_per_shard=100,
        gzip_mode="members",
    )
    wat = warc.write_wat(
        ready.select(
            F.col("url").alias("uri"),
            F.lit(200).cast("long").alias("status"),
            F.lit("text/html").alias("content_type"),
            F.substring("text", 1, 30).alias("title"),
            F.array(F.lit("https://hub.example.com/x")).alias("links"),
        ),
        records_per_shard=100,
    )
    print(
        "WET shards:", wet.count(), "WAT shards:", wat.count(),
        "| WAT reads back:",
        warc.wat_metadata(warc.warc_records(wat, id_col="shard_id"))
        .where("rec_type = 'metadata'").count(), "records",
    )

    spark.stop()


if __name__ == "__main__":
    main()
