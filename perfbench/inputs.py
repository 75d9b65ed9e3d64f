"""Seeded input generators. The benchmark owns them, so a change to the
program can never change a workload: the same seed always yields the
same rows, and the program only ever sees the generated tables.

Nothing here imports Spark or the program under test.
"""

from __future__ import annotations

import datetime as dt
import random
from typing import List, Tuple

# Word pool of the synthetic document corpus the flagship job has always
# run on (30 short English tokens, documents of uniformly 10-100 words).
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

# Document length range in words: 80 words average ~425 chars, inside
# the 495-char root-stage window of FLAGSHIP_SCHEMA, so the flagship
# documents are (almost all) single-window.
MIN_WORDS, MAX_WORDS = 10, 80

FLAGSHIP_SCHEMA = {"subject entity": ["related fact"]}
BACKFILL_SCHEMA = {"竞赛名称": ["主办方", "情感倾向[正向，负向]"]}

# kg_backfill corpus shape: 60% zh pages, 35% of urls on one hot domain,
# 8% long pages of just over LONG_CHARS chars (two windows).
ZH_SHARE = 0.6
HOT_SHARE = 0.35
LONG_SHARE = 0.08
LONG_CHARS = 600
HOT_DOMAIN = "news.hot-domain.example"
COLD_DOMAINS = ["a.example.org", "b.example.net", "c.example.io", "d.example.com"]

_ZH = [
    "第五届全国大学生程序设计竞赛由中国计算机学会主办，清华大学承办。",
    "本届机器人创新大赛的承办方是上海交通大学，主办方为教育部。",
    "选手李华在昨天的数学建模竞赛中获得一等奖，表现非常出色。",
    "这次比赛组织得很好，评委公正，大家都很满意。",
    "活动现场秩序混乱，服务态度差，很多观众提前离场。",
    "２０２３年智能语音挑战赛吸引了三百支队伍参加！",
    "会议由北京市科学技术协会主办，承办单位为中关村管委会。",
    "天气预报说明天有大雨，请大家注意出行安全。",
    "公司发布了新产品，市场反应热烈，销量同比增长百分之三十。",
    "他说：“这是我参加过的最难的一次编程竞赛。”",
    "大赛奖金总额达到一百万元，由多家企业联合赞助。",
    "组委会表示，下一届比赛将于秋季在杭州举行。",
]
_EN = [
    "The national coding contest was organised by the Computing Society.",
    "Maria Lopez won the regional robotics challenge last weekend.",
    "The hackathon was hosted by the city university and a local startup.",
    "Ticket sales for the final round rose by forty percent this year.",
    "Judges praised the teams, but the venue was crowded and noisy.",
    "Registration for the spring data science cup closes on Friday.",
]


def flagship_docs(seed: int, n_docs: int) -> List[Tuple[int, str]]:
    """A fixed corpus of ``n_docs`` distinct word-salad documents,
    re-keyed by seeded 63-bit ids and put in seeded order. Every seed runs
    the same texts, so the model work and the triple count stay the same
    and only the keys, the order and with them the partitioning change:
    seeded texts made the triple count vary by about 12% between seeds."""
    corpus = random.Random("flagship/corpus")
    seen = set()
    texts = []
    while len(texts) < n_docs:
        t = " ".join(corpus.choice(VOCAB) for _ in range(corpus.randint(MIN_WORDS, MAX_WORDS)))
        if t not in seen:
            seen.add(t)
            texts.append(t)
    rng = random.Random(f"flagship/{seed}")
    ids = rng.sample(range(1, 1 << 62), n_docs)
    rows = list(zip(ids, texts))
    rng.shuffle(rows)
    return rows


def warmup_docs() -> List[Tuple[int, str]]:
    """A fixed tiny corpus for the set-up extraction, English and Chinese
    (not seeded: set-up is the same work in every run)."""
    rng = random.Random("warmup")
    en = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(MIN_WORDS, MAX_WORDS))) for _ in range(4)]
    zh = ["".join(rng.choice(_ZH) for _ in range(2)) for _ in range(4)]
    return list(enumerate(en + zh))


def _long_text(pool: List[str], sep: str) -> str:
    """The pool's sentences in order, cycled until past LONG_CHARS."""
    text, k = pool[0], 1
    while len(text) <= LONG_CHARS:
        text += sep + pool[k % len(pool)]
        k += 1
    return text


def backfill_pages(seed: int, n_pages: int) -> List[tuple]:
    """Web-pages rows ``(url, warc_ts, html, text, lang)``. The zh, hot-
    domain and long-page shares are exact (rounded, long pages split
    between the languages in the zh share); only their placement is
    seeded, so every seed carries the same mix. Short pages draw 1-4
    sentences from small pools, so many repeat a text exactly. Long pages
    are one fixed boilerplate text per language, two root windows long:
    their triple count grows with the square of their length, so drawn
    long texts would make the seed decide most of the workload's
    triples. The short texts, too, are one fixed set that the seed only
    deals out to pages: with seeded texts the triple count varied by
    about 11% between seeds."""
    rng = random.Random(f"backfill/{seed}")
    pages = range(n_pages)
    zh_pages = set(rng.sample(pages, round(ZH_SHARE * n_pages)))
    hot_pages = set(rng.sample(pages, round(HOT_SHARE * n_pages)))
    n_long = round(LONG_SHARE * n_pages)
    n_long_zh = round(ZH_SHARE * n_long)
    long_pages = set(rng.sample(sorted(zh_pages), n_long_zh)) | set(
        rng.sample([i for i in pages if i not in zh_pages], n_long - n_long_zh)
    )
    corpus = random.Random("backfill/corpus")
    short = {}
    for zh, pool, sep in ((True, _ZH, ""), (False, _EN, " ")):
        n = sum(1 for i in pages if (i in zh_pages) == zh and i not in long_pages)
        texts = [sep.join(corpus.choice(pool) for _ in range(corpus.randint(1, 4))) for _ in range(n)]
        rng.shuffle(texts)
        short[zh] = texts
    t0 = dt.datetime(2024, 3, 1)
    rows = []
    for i in pages:
        zh = i in zh_pages
        pool, sep = (_ZH, "") if zh else (_EN, " ")
        text = _long_text(pool, sep) if i in long_pages else short[zh].pop()
        domain = HOT_DOMAIN if i in hot_pages else rng.choice(COLD_DOMAINS)
        url = f"https://{domain}/p/{seed}/{i}"
        html = b"<html><body>" + text.encode("utf-8") + b"</body></html>"
        ts = t0 + dt.timedelta(seconds=rng.randint(0, 30 * 86400))
        rows.append((url, ts, html, text, "zh" if zh else "en"))
    return rows
