"""Seeded input generator owned by the benchmark.

Everything the benchmark feeds the engine is made here from ``--seed``:
the pages tables, the query pools and streams, and the append batches.
The vocabulary, the Zipf law and the page template are copied into this
file on purpose, so an edit to ``tse_spark/fixtures.py`` cannot change
what the benchmark measures.  Bump ``GEN_VERSION`` whenever generated
content changes: it is part of every cache key.

Nothing here imports ``tse_spark``.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import os
import re

import numpy as np

GEN_VERSION = 3
ENCODING = "gb2312"

DICT_WORDS = (
    "中", "国", "人", "大", "学", "网",
    "中国", "人民", "大学", "搜索", "引擎", "网络", "系统", "数据",
    "中文", "分词", "北京", "信息", "检索", "实验", "原理", "技术",
    "计算机", "互联网", "实验室",
    "搜索引擎", "北京大学", "中国人民", "网络实验",
)
OOD_HANZI = ("鑫", "森", "淼", "焱", "磊")
GB_PUNCT = ("，", "。", "、", "！")
HEAD_WORDS = (
    "web", "search", "index", "spark", "data", "query", "page", "link",
    "rank", "text", "html", "crawl", "token", "term", "score", "match",
    "engine1", "cluster9", "shuffle8",
)
# 1-byte and >= 9-byte words (dropped by the 2..8-byte index filter) and
# uppercase spellings (lowercase path)
FILTER_WORDS = (
    "a", "i", "x", "wonderful9", "information", "distributed", "Spark", "WEB",
)
TAIL_WORDS = tuple(f"w{i:04x}" for i in range(4096))
VOCAB = (
    HEAD_WORDS + FILTER_WORDS + DICT_WORDS + OOD_HANZI
    + ("搜索引擎原理", "北京大学网络实验室", "中国人民大学")
    + TAIL_WORDS
)
# the most frequent tail words are kept out of every cold stream: hot
# pools draw from HOT_TAIL, and the cold phase's untimed warm-up pass
# uses the first few of them
HOT_TAIL = TAIL_WORDS[:256]
WARMUP_TAIL = HOT_TAIL[:32]
# head and multi-character dictionary words: the first term of a burst
# query, and the common words of hot-pool queries
BURST_FIRST_WORDS = HEAD_WORDS + DICT_WORDS[6:]
BURST_TAIL_SHARE = 0.7

# The reference query set (55 queries) of the engine's fixtures.
REFERENCE_QUERIES = (
    "web", "search", "spark", "index", "query", "rank", "html",
    "crawl", "score", "term",
    "web search", "spark index", "data query page", "search engine1",
    "rank score match", "web data", "index crawl", "token term",
    "spark data query", "page link",
    "zzzz", "qqqq xxxx", "web zzzz",
    "a", "i web", "wonderful9", "information web", "x",
    "WEB", "Spark Search", "HTML", "WEB search",
    "搜索引擎", "北京大学", "中国人民", "搜索引擎原理", "网络实验",
    "中文分词", "数据", "信息检索", "计算机", "互联网",
    "鑫森", "淼",
    "spark 中国", "web 搜索引擎", "数据 query", "北京 index html",
    "web，search", "搜索，引擎。",
    "w0001", "w0010 web", "w0003 w0007", "w00ff search", "w0a00",
)

_GARNISH = (
    '<a href="http://x.cn/a>b">anchor text</a>',
    "<!-- a comment > with a gt -->",
    "stray > follows",
    "<script>var x = 1; if (x) { x = 2; }</script>",
    "&nbsp;entity&nbsp;runs",
    "tab\there\r\nand\nnewlines",
    "plain middle sentence",
)
_TAG_SPLIT = re.compile(r"([<>])")
_WS_RUN = re.compile(r"[ \t\r\n]+")


def dictionary() -> frozenset:
    """The segmentation dictionary as GB2312 byte strings."""
    return frozenset(w.encode(ENCODING) for w in DICT_WORDS)


def extract_text(html: str) -> str:
    """Tag strip ('<' emits one space and enters a tag, '>' leaves it),
    then ``&nbsp;`` -> space, then whitespace-run squeeze: the engine's
    extraction law.  Every delimiter is ASCII, so working on the decoded
    string equals working on the GB2312 bytes."""
    out = []
    intag = False
    for part in _TAG_SPLIT.split(html):
        if part == "<":
            intag = True
            out.append(" ")
        elif part == ">":
            intag = False
        elif not intag:
            out.append(part)
    return _WS_RUN.sub(" ", "".join(out).replace("&nbsp;", " "))


def _zipf(n: int, s: float) -> np.ndarray:
    p = np.arange(1, n + 1, dtype=np.float64) ** (-s)
    return p / p.sum()


_VOCAB_P = _zipf(len(VOCAB), 1.2)


def gen_pages(
    n_rows: int, seed: int, length_scale: int, start: int = 0,
    host: str = "site",
) -> dict:
    """Columns of a pages table (url, warc_ts, html, text, lang).

    About 1% of rows repeat the previous row's url and content (the
    engine dedups them).  ``start`` offsets the global row number, so
    chunks generated apart still have distinct urls; ``host`` separates
    url spaces (append batches use their own)."""
    rng = np.random.RandomState(seed)
    lengths = rng.randint(15 * length_scale, 60 * length_scale, size=n_rows)
    flat = rng.choice(len(VOCAB), size=int(lengths.sum()), p=_VOCAB_P)
    offsets = np.concatenate(([0], np.cumsum(lengths)))
    epoch = _dt.datetime(2004, 1, 1, tzinfo=_dt.timezone.utc)
    cols = {k: [] for k in ("url", "warc_ts", "html", "text", "lang")}
    for i in range(n_rows):
        g = start + i
        cols["warc_ts"].append(epoch + _dt.timedelta(seconds=137 * g))
        if g % 101 == 7 and i > 0:
            for k in ("url", "html", "text", "lang"):
                cols[k].append(cols[k][-1])
            continue
        scheme = "HTTP" if g % 97 == 13 else "http"
        cols["url"].append(f"{scheme}://{host}{g % 97}.example.cn/p/{g}")
        toks = [VOCAB[t] for t in flat[offsets[i]: offsets[i + 1]]]
        parts = []
        for j, t in enumerate(toks):
            parts.append(t)
            if j % 7 == 3:
                parts.append(GB_PUNCT[j % len(GB_PUNCT)])
        title = " ".join(toks[:3])
        html = (
            f"<html>\n<head><title>{title}</title></head>\n"
            f"<body class=\"m\">\n<h1>{title}</h1>\n"
            f"<p>{' '.join(parts)}</p>\n{_GARNISH[g % len(_GARNISH)]}\n"
            f"<div id=\"f\">footer {g % 13}</div>\n</body>\n</html>\n"
        )
        cols["html"].append(html.encode(ENCODING))
        cols["text"].append(extract_text(html))
        cols["lang"].append(("zh", "en", "mixed")[g % 3])
    return cols


def _write_chunk(task: tuple) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path, n, seed, length_scale, start, host = task
    cols = gen_pages(n, seed, length_scale, start, host)
    table = pa.table(
        {
            "url": pa.array(cols["url"], pa.string()),
            "warc_ts": pa.array(cols["warc_ts"], pa.timestamp("us", "UTC")),
            "html": pa.array(cols["html"], pa.binary()),
            "text": pa.array(cols["text"], pa.string()),
            "lang": pa.array(cols["lang"], pa.string()),
        }
    )
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def write_pages(
    out_dir: str, n_rows: int, n_files: int, seed: int, length_scale: int,
    host: str = "site", pool=None,
) -> str:
    """Write (or reuse) a pages table as ``n_files`` parquet parts.  Part
    ``i`` is a pure function of (seed, i, sizes), so the pool size never
    changes the content.  Returns ``out_dir``."""
    marker = os.path.join(out_dir, "_DONE")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    per = -(-n_rows // n_files)
    tasks = [
        (
            os.path.join(out_dir, f"part-{i:05d}.parquet"),
            min(per, n_rows - i * per),
            derive_seed(seed, "pages", host, i),
            length_scale,
            i * per,
            host,
        )
        for i in range(n_files)
        if n_rows - i * per > 0
    ]
    if pool is not None:
        pool.map(_write_chunk, tasks)
    else:
        for t in tasks:
            _write_chunk(t)
    open(marker, "w").close()
    return out_dir


def derive_seed(seed: int, *parts: object) -> int:
    """A 31-bit seed for one named input, stable across Python runs."""
    h = hashlib.sha256(repr((GEN_VERSION, seed) + parts).encode()).digest()
    return int.from_bytes(h[:4], "little") & 0x7FFFFFFF


# -- query pools and streams -------------------------------------------


def _head_or_dict(rng: np.random.RandomState) -> str:
    return BURST_FIRST_WORDS[rng.randint(len(BURST_FIRST_WORDS))]


def hot_pool(seed: int, n_extra: int = 150) -> list:
    """(query, conjunctive) pairs: the reference set, in its fixed order,
    then ``n_extra`` seeded 1-3-term queries over head, dictionary and
    common tail words.  Every fifth query is conjunctive."""
    rng = np.random.RandomState(derive_seed(seed, "hot_pool"))
    out = list(REFERENCE_QUERIES)
    for _ in range(n_extra):
        n = 1 + rng.randint(3)
        out.append(" ".join(
            _head_or_dict(rng) if rng.rand() < 0.6
            else HOT_TAIL[rng.randint(len(HOT_TAIL))]
            for _ in range(n)
        ))
    return [(q, i % 5 == 4) for i, q in enumerate(out)]


def zipf_stream(seed: int, pool_size: int, n: int, name: str) -> list:
    """``n`` indices into a pool, Zipf(1.1)-skewed over pool order, so the
    reference queries hold the head ranks whatever the seed (the cost of
    a stream is then set by the same popular queries on every seed).
    The exponent is an assumption, not fitted to a query log."""
    rng = np.random.RandomState(derive_seed(seed, name))
    return [int(r) for r in rng.choice(pool_size, size=n, p=_zipf(pool_size, 1.1))]


def cold_stream(seed: int, n: int) -> list:
    """``n`` disjunctive queries that each carry one or two tail words no
    earlier query used (drawn without replacement from the tail outside
    ``HOT_TAIL``) plus at most one head word.  The mix (a second tail
    word 30% of the time, a head word 50%) is an assumption, not fitted
    to a query log."""
    rng = np.random.RandomState(derive_seed(seed, "cold"))
    tail = TAIL_WORDS[len(HOT_TAIL):]
    order = rng.permutation(len(tail))
    out, pos = [], 0
    for _ in range(n):
        k = 1 + int(rng.rand() < 0.3)
        terms = [tail[i] for i in order[pos: pos + k]]
        pos += k
        if rng.rand() < 0.5:
            terms.append(HEAD_WORDS[rng.randint(len(HEAD_WORDS))])
        out.append(" ".join(terms))
    return out


def burst(seed: int, round_no: int) -> list:
    """Queries run on the handle an append or a compaction returns: one
    query per head and dictionary word, in a seeded order, and exactly
    ``BURST_TAIL_SHARE`` of them (rounded) add a tail word, so both old
    and fresh documents match.  The first words and the tail count are
    fixed, so the burst's mix of posting-list lengths, and with it its
    latency median, is the same on every seed."""
    rng = np.random.RandomState(derive_seed(seed, "burst", round_no))
    n = len(BURST_FIRST_WORDS)
    with_tail = set(rng.permutation(n)[: round(BURST_TAIL_SHARE * n)].tolist())
    out = []
    for i, j in enumerate(rng.permutation(n)):
        terms = [BURST_FIRST_WORDS[j]]
        if i in with_tail:
            terms.append(TAIL_WORDS[rng.randint(len(TAIL_WORDS))])
        out.append(" ".join(terms))
    return out
