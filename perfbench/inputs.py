"""Seeded input generators for the three workloads.

Everything here is a pure function of the workload seed, so the same seed
gives the same inputs on every checkout. The package under test receives only
what these functions produce.
"""

from __future__ import annotations

import bisect
import datetime as dt
import random

import pyarrow as pa
import pyarrow.parquet as pq

# Word list and size profile of the documents table the pipeline's page
# synthesizer was built around (10-100 words per document, ~40% English).
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [41, 15, 15, 15, 14]


def write_documents(path: str, n_docs: int, seed: int) -> None:
    """documents.parquet for `synthesize_pages`. The doc ids are a seeded
    remap into a large id space: the synthesizer seeds each page's HTML by its
    doc id, so every seed yields distinct pages with the same size profile and
    the same hot-entity skew (AAPL, SEC and the Fed in ~30% of pages)."""
    rng = random.Random(f"documents:{seed}")
    ids = rng.sample(range(1, 50_000_000), n_docs)
    texts = [" ".join(rng.choices(VOCAB, k=rng.randint(10, 100))) for _ in ids]
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n_docs),
            "source": [f"src{i % 10}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(table, path)


def recrawl_batch(
    rng: random.Random,
    pages: list[dict],
    urls: list[str],
    seed: int,
    batch_no: int,
    n_changed: int,
    n_new: int,
    extract_text,
) -> list[tuple]:
    """One recrawl batch as pages rows (url, warc_ts, html, text, lang):
    `n_changed` existing urls whose HTML is replaced by another page's HTML
    (the MERGE's matched branch) plus `n_new` unseen urls (the insert branch).
    `urls` is the live url set and grows by the new urls."""
    changed = rng.sample(urls, n_changed)
    new = [
        f"https://news.example.com/recrawl/s{seed}/b{batch_no}/{i}"
        for i in range(n_new)
    ]
    rows = []
    for url in changed + new:
        donor = rng.choice(pages)
        while donor["url"] == url:
            donor = rng.choice(pages)
        html = donor["html"]
        rows.append(
            (
                url,
                donor["warc_ts"] + dt.timedelta(days=30 * (batch_no + 1)),
                html,
                extract_text(html),
                donor["lang"],
            )
        )
    urls.extend(new)
    return rows


# One cycle of the query stream: request slot -> (count per 8 requests, the
# request classes it alternates between, cycle by cycle). GraphRAG context 25%,
# two-stage search 25%, semantic search + hydration 12.5%, fact lookups (around
# or between, date path) 12.5%, 2-hop 12.5%, 1-hop chunks 12.5%. The class mix
# of a cycle is fixed by its index, so runs of different seeds do the same mix.
CYCLE = [
    ("context", 2, ["context"]),
    ("two_stage", 2, ["two_stage"]),
    ("search", 1, ["search_entities", "search_topics"]),
    ("facts", 1, ["facts_around", "facts_between"]),
    ("two_hop", 1, ["two_hop"]),
    ("one_hop", 1, ["entity_one_hop", "topic_one_hop"]),
]

TEMPLATES = {
    "context": "Why did {e} change its outlook on {t} this year?",
    "two_stage": "What did {e} report about {t} in recent quarters?",
    "search_entities": "Which companies resemble {e} in {t} exposure?",
    "search_topics": "Which themes around {t} matter for {e} now?",
    "facts_around": "When did {e} last comment on {t}?",
    "facts_between": "Compare {e} and {e2} on {t}.",
    "two_hop": "List the closest partners of {e} today.",
    "entity_one_hop": "Show every source that mentions {e} directly.",
    "topic_one_hop": "Show every source that covers {t} for {e}.",
}


class ZipfPicker:
    """Inverse-CDF Zipf(s) draw over a ranked list (rank 1 = most mentioned),
    taking the uniform as an argument so callers can stratify it."""

    def __init__(self, ranked: list[str], s: float = 1.1) -> None:
        self.ranked = ranked
        acc, self.cdf = 0.0, []
        for r in range(1, len(ranked) + 1):
            acc += r ** -s
            self.cdf.append(acc)
        self.total = acc

    def pick(self, u: float) -> str:
        i = bisect.bisect_left(self.cdf, u * self.total)
        return self.ranked[min(i, len(self.ranked) - 1)]


def question_cycle(
    rng: random.Random, entities: ZipfPicker, topics: ZipfPicker, n: int
) -> list[dict]:
    """Cycle `n` of the stream: 8 requests with the CYCLE mix, shuffled. Seed
    entities and topics are Zipf-weighted by mention count; the uniforms are
    stratified within each slot, so every cycle carries the same share of hot
    and long-tail entities while the seed picks which ones."""
    reqs = []
    for _, k, classes in CYCLE:
        for j in range(k):
            cls = classes[n % len(classes)]
            e = entities.pick((j + rng.random()) / k)
            e2 = entities.pick(rng.random())
            while e2 == e:
                e2 = entities.pick(rng.random())
            t = topics.pick((j + rng.random()) / k)
            q = TEMPLATES[cls].format(e=e, e2=e2, t=t)
            reqs.append({"cls": cls, "entity": e, "entity2": e2, "topic": t, "question": q})
    rng.shuffle(reqs)
    return reqs
