"""Benchmark inputs.

* Transcript corpora for the extraction workloads, built from the seed
  with ``sources.transcripts.transcripts_df`` (the program's own
  generator) plus, for ``pipeline_mixed``, a few dozen planted hostile
  documents, and materialized inside the benchmark's work dir.
* The five sf0.1 tables the ``analytics`` queries read (documents,
  events, orders, customer, embeddings), stored as they are under
  ``data/sf0.1`` so stored result fingerprints hold for every run.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

ANALYTICS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
ANALYTICS_TABLES = ("documents", "events", "orders", "customer", "embeddings")

_PARA = (
    "<p>The committee reviewed the regional reports, and the analysts "
    "noted a considerable change in how readers follow the stories.</p>"
)

# (name, build(size) -> html, size range). Each shape is one that makes
# a single document slow today (a straggler) while still extracting
# without parse_failed; sizes are drawn from the seed inside the range.
_HOSTILE_SHAPES = (
    ("unclosed_div_p", lambda n: "<html><body>" + "<div><p>x" * n, (350, 500)),
    (
        "link_farm",
        lambda n: "<html><body><div>"
        + "".join(f'<a href="/p{i}">link {i}</a> ' for i in range(n))
        + "</div></body></html>",
        (3000, 5000),
    ),
    (
        "huge_article",
        lambda n: "<html><body><article>" + _PARA * n + "</article></body></html>",
        (2000, 3000),
    ),
    (
        "comment_flood",
        lambda n: "<html><body>"
        + ("<div class='comment'>" + _PARA + "</div>") * n
        + "</body></html>",
        (1000, 1500),
    ),
    (
        "wide_table",
        lambda n: "<html><body><table>"
        + ("<tr>" + "<td>cell text here</td>" * 20 + "</tr>") * n
        + "</table></body></html>",
        (300, 500),
    ),
    (
        "deep_nesting",
        lambda n: "<html><body>" + "<div>" * n + _PARA + "</div>" * n + "</body></html>",
        (300, 400),
    ),
)


def hostile_documents(seed: int, count: int) -> list[tuple[str, str]]:
    """``count`` (shape, html) pairs cycling through the hostile shapes."""
    rng = random.Random(seed * 7_777 + 1)
    docs = []
    for i in range(count):
        name, build, (lo, hi) = _HOSTILE_SHAPES[i % len(_HOSTILE_SHAPES)]
        docs.append((name, build(rng.randint(lo, hi))))
    return docs


def hostile_rows(seed: int, count: int) -> list[tuple]:
    """Hostile documents as transcript rows, one conversation each."""
    base = datetime(2025, 6, 1)
    return [
        (f"hostile-{seed}-{i:03d}", 0, "tool", html, "scraper", base + timedelta(minutes=i))
        for i, (_name, html) in enumerate(hostile_documents(seed, count))
    ]


def build_transcripts(
    spark, path: str, n_conversations: int, n_turns: int, seed: int, partitions: int,
    pdf_rate: float = 0.0, hostile: int = 0,
):
    """Generate ``n_conversations`` conversations (plus ``hostile`` planted
    documents), write them as parquet under ``path`` and return the table
    read back from disk, cut to the first ``n_turns`` generated turns in
    conversation order, and its number of turns. Conversation sizes are
    heavily skewed, so without the cut the corpus size would swing by a
    quarter from seed to seed."""
    from pyspark.sql import functions as F

    from readability_scanner_spark.sources.transcripts import (
        TRANSCRIPTS_SCHEMA,
        transcripts_df,
    )

    df = transcripts_df(
        spark, n_conversations=n_conversations, seed=seed,
        partitions=partitions, pdf_rate=pdf_rate,
    )
    if hostile:
        planted = spark.createDataFrame(hostile_rows(seed, hostile), TRANSCRIPTS_SCHEMA)
        df = df.unionByName(planted)
    df.write.mode("overwrite").parquet(path)
    table = spark.read.parquet(path)
    generated = F.col("conv_id").startswith("conv-")
    sizes = table.where(generated).groupBy("conv_id").count().orderBy("conv_id").collect()
    kept = 0
    for row in sizes:
        if kept + row["count"] >= n_turns:
            cut = (F.col("conv_id") < row["conv_id"]) | (
                (F.col("conv_id") == row["conv_id"]) & (F.col("turn_idx") < n_turns - kept)
            )
            return table.where(~generated | cut), n_turns + hostile
        kept += row["count"]
    return table, kept + hostile  # fewer than n_turns generated: keep them all
