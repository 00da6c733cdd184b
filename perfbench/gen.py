"""Seeded inputs for the benchmark and the pure-Python oracle they are
checked against.

Everything here is plain Python (no Spark), so the same seed gives the
same bytes on every machine. The corpus is CJK-heavy, with document
lengths from 0 to 20k characters on a long-tailed distribution, and its
text contains every separator the recursive splitter looks for.
"""

from __future__ import annotations

import itertools
import json
import os
import random

from embedding_to_vectordatabase_spark.operators.chunking import (
    DEFAULT_CHUNK_SIZE,
    DEFAULT_OVERLAP,
    split_text_recursive,
)

# common hanzi; titles use only these plus ASCII letters and digits so
# the package's clean_title leaves them unchanged
CJK = (
    "的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成"
    "会可主发年动同工也能下过子说产种面而方后多定行学法所民得经十三之进着"
    "等部度家电力里如水化高自二理起小物现实加量都两体制机当使点从业本去把"
    "性好应开它合还因由其些然前外天政四日那社义事平形相全表间样与关各重新"
    "线内数正心反你明看原又么利比或但质气第向道命此变条只没结解问意建月公"
    "无系军很情者最立代想已通并提直题党程展五果料象员革位入常文总次品式活"
    "设及管特件长求老头基资边流路级少图山统接知较将组见计别她手角期根论运"
    "农指几九区强放决西被干做必战先回则任取据处队南给色光门即保治北造百规"
    "热领七海口东导器压志世金增争济阶油思术极交受联什认六共权收证改清己美"
    "再采转更单风切打白教速花带安场身车例真务具万每目至达走积示议声报斗完"
)
ASCII_WORDS = ["spark", "vector", "milvus", "embed", "chunk", "parquet",
               "index", "query", "batch", "stream", "2025", "v2", "RAG"]
# (separator, weight): every splitter separator appears; whitespace
# separators also give MinHash its word boundaries
SEPARATORS = [("。", 26), ("，", 18), (" ", 24), ("\n", 10), ("；", 5),
              ("！", 4), ("？", 4)]
MAX_DOC_CHARS = 20_000
EMPTY_SHARE = 0.05
MEAN_DOC_CHARS = 1000
PARETO_ALPHA = 1.3
PUB_TIME = "2025-04-27"

_SEPS, _SEP_W = zip(*SEPARATORS)
_SEP_CUM = list(itertools.accumulate(_SEP_W))


def _phrase(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(CJK) for _ in range(rng.randint(lo, hi)))


def _lengths(rng: random.Random, n: int, mean_chars: int,
             empty_share: float = EMPTY_SHARE) -> list[int]:
    """Long-tailed doc lengths (0 to 20k chars), rescaled so that a
    batch always holds about ``n * mean_chars`` characters. The draws
    are stratified: the i-th non-empty doc takes a Pareto quantile from
    the i-th of n equal slices of [0, n / (n + 1)), and the number of
    empty docs is fixed. So every batch holds the same spread of lengths, and about
    the same number of chunks, while each doc's length varies with the
    seed: the tail stays, but the work per batch does not swing."""
    n_empty = int(n * empty_share)
    n_full = n - n_empty
    raw = [0.0] * n_empty + [
        (1.0 - (i + rng.random()) / (n_full + 1)) ** (-1 / PARETO_ALPHA)
        for i in range(n_full)]
    rng.shuffle(raw)
    budget = n * mean_chars
    lengths = raw
    for _ in range(8):  # rescale the uncapped docs until the caps settle
        capped = sum(MAX_DOC_CHARS for x in lengths if x >= MAX_DOC_CHARS)
        free = sum(x for x in lengths if x < MAX_DOC_CHARS)
        scale = (budget - capped) / (free or 1.0)
        lengths = [x if x >= MAX_DOC_CHARS else min(MAX_DOC_CHARS, x * scale)
                   for x in lengths]
    return [int(x) for x in lengths]


def _content(rng: random.Random, length: int) -> str:
    hanzi = "".join(rng.choices(CJK, k=length))  # drawn once per doc
    parts: list[str] = []
    size = pos = 0
    while size < length:
        r = rng.random()
        if r < 0.04:
            cells = "".join(
                f"<Cell>{_phrase(rng, 2, 8)}</Cell>"
                for _ in range(rng.randint(2, 4))
            )
            piece = f"<row>{cells}</row>"
        elif r < 0.10:
            piece = rng.choice(ASCII_WORDS) + " "
        else:
            n = rng.randint(4, 30)
            piece = hanzi[pos:pos + n] + rng.choices(
                _SEPS, cum_weights=_SEP_CUM)[0]
            pos += n
        parts.append(piece)
        size += len(piece)
    return "".join(parts)[:length]


def make_docs(rng: random.Random, titles: list[str],
              empty_share: float = EMPTY_SHARE) -> list[dict]:
    lengths = _lengths(rng, len(titles), MEAN_DOC_CHARS, empty_share)
    return [{"title": t, "pub_time": PUB_TIME, "source": "bench",
             "content": _content(rng, n)} for t, n in zip(titles, lengths)]


def doc_title(prefix: str, seed: int, no: int) -> str:
    """Unique, clean_title-stable title; the trailing number is the
    document's global number (its registry id)."""
    return f"{prefix}{seed}n{no}"


def title_no(title: str) -> int:
    return int(title.rsplit("n", 1)[1])


def write_jsonl(path: str, docs: list[dict]) -> None:
    """Write to a temporary name, then rename: a directory watched by a
    file stream never sees a half-written file."""
    tmp = f"{os.path.dirname(path)}/.{os.path.basename(path)}.tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        for d in docs:
            f.write(json.dumps(d, ensure_ascii=False) + "\n")
    os.replace(tmp, path)


def reformat(doc: dict) -> str:
    """Python twin of functions.text.reformat_doc (the ingest's text)."""
    return "[标题]:{}\n[时间]:{}\n[来源]:{}\n\n{}".format(
        doc["title"] if doc["title"] is not None else "无标题",
        doc["pub_time"] if doc["pub_time"] is not None else "无时间",
        doc["source"] if doc["source"] is not None else "无来源",
        doc["content"] if doc["content"] is not None else "无内容",
    )


def oracle_chunks(doc: dict) -> list[str]:
    return split_text_recursive(
        reformat(doc), DEFAULT_CHUNK_SIZE, DEFAULT_OVERLAP
    )


# -- ingest_bulk ----------------------------------------------------------

UNMATCHED_SHARE = 0.10
INGESTED_SHARE = 0.10


def bulk_batch(seed: int, cycle: int, n_docs: int) -> dict:
    """One ingest_bulk input file: docs plus which of them have no
    registry row and which are already ingested (10% each, exactly).
    Both sets are drawn across the length order, one doc from each run
    of ten, so the docs left to ingest hold about the same number of
    chunks on every seed."""
    rng = random.Random(f"bulk-{seed}-{cycle}")
    base = (cycle + 1) * 100_000
    docs = make_docs(rng, [doc_title("批量", seed, base + i)
                           for i in range(n_docs)])
    by_len = sorted(docs, key=lambda d: len(d["content"]))
    unmatched, ingested = set(), set()
    for lo in range(0, n_docs, 10):
        group = [d["title"] for d in by_len[lo:lo + 10]]
        a, b = rng.sample(range(len(group)), 2) if len(group) > 1 else (0, 0)
        if len(unmatched) < int(n_docs * UNMATCHED_SHARE):
            unmatched.add(group[a])
        if len(ingested) < int(n_docs * INGESTED_SHARE) and b != a:
            ingested.add(group[b])
    return {"docs": docs, "unmatched": unmatched, "ingested": ingested}


# -- refresh_mixed --------------------------------------------------------

NEARDUP_SHARE = 0.30
EXACT_COPY_SHARE = 0.35  # of the near-duplicates
MIN_NEARDUP_WORDS = 12


def standing_corpus(seed: int, n_docs: int) -> list[dict]:
    rng = random.Random(f"standing-{seed}")
    return make_docs(rng, [doc_title("常驻", seed, 1 + i)
                           for i in range(n_docs)])


def refresh_batch(seed: int, cycle: int, n_docs: int,
                  standing: list[dict]) -> dict:
    """One refresh_mixed file: ~30% near-duplicate edits of standing
    docs (a share of them exact copies under a new title), the rest
    fresh docs. Fresh docs are never empty, so the near-duplicate gate
    has nothing to collapse among them."""
    rng = random.Random(f"refresh-{seed}-{cycle}")
    base = 1_000_000 + cycle * 10_000
    wordy = [d for d in standing
             if len(d["content"].split()) >= MIN_NEARDUP_WORDS]
    docs, neardups, exact = [], set(), set()
    for d_origin in rng.sample(wordy, int(n_docs * NEARDUP_SHARE)):
        title = doc_title("刷新", seed, base + len(docs))
        if rng.random() < EXACT_COPY_SHARE:
            content = d_origin["content"]
            exact.add(title)
        else:
            content = d_origin["content"] + " " + _phrase(rng, 3, 8)
        docs.append({"title": title, "pub_time": PUB_TIME,
                     "source": "bench", "content": content})
        neardups.add(title)
    fresh = [doc_title("刷新", seed, base + i)
             for i in range(len(docs), n_docs)]
    docs += [d for d in make_docs(rng, fresh, empty_share=0.0)
             if d["content"]]
    rng.shuffle(docs)
    return {"docs": docs, "neardups": neardups, "exact": exact}


def unseen_queries(seed: int, n: int) -> list[str]:
    rng = random.Random(f"queries-{seed}")
    return [_phrase(rng, 10, 60) for _ in range(n)]
