"""Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §A).

Shape mandated by BASELINE.json ``input_hint``:
``(url:string, warc_ts:timestamp, html:binary, text:string, lang:string)``.

Generation is **distributed and stateless-per-row**: ``spark.range(n)`` →
``mapInPandas``; every row derives solely from ``(seed, doc_id)`` so any
partitioning of the id space yields byte-identical output — the property that
makes the generator (and therefore all tests) scale-invariant.

Each zh document embeds template relation sentences (scorers/rules.py) plus
distractors (title-only mentions, org names, self-pairs, simplified-script
duplicates, name-dense pages, >1024-char placement — FIXTURES.md §A1). The
golden triple set (§A2) is emitted by the same per-doc function.
"""

from __future__ import annotations

import datetime as dt
import itertools
import random
from collections.abc import Iterator

import pandas as pd

from ..functions.chinese import s2t
from ..scorers.rules import CAST, SIMPLIFIED, TEMPLATES, SELF_PAIR_FMT, TITLES

DOCS_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
GOLDEN_SCHEMA = "url string, subj string, obj string, rel string, in_first_1024 boolean"

_ZH_FILLER = [
    "今天的天氣非常晴朗，適合出門散步。",
    "市場分析指出，近期物價持續上漲。",
    "這座城市的交通在尖峰時段相當擁擠。",
    "博物館即將舉辦為期三個月的特展。",
    "新的捷運路線預計於明年通車。",
    "許多民眾選擇在假日前往郊外踏青。",
    "環保議題近年來受到廣泛重視。",
    "科技產業的發展帶動了就業成長。",
    "這部電影上映首週票房表現亮眼。",
    "運動有助於身體健康與紓解壓力。",
]
_LATIN_FILLER = {
    "en": "The committee met in the city and discussed the annual budget for the coming year.",
    "de": "Der Ausschuss traf sich in der Stadt und ist mit dem Plan für das Jahr nicht unzufrieden.",
    "es": "El comité se reunió en la ciudad para discutir el presupuesto de los próximos años.",
    "fr": "Le comité s'est réuni dans la ville pour discuter le budget des prochaines années avec soin.",
}
_BOILER = [
    ("nav", "首頁 | 新聞 | 體育 | 娛樂 | 財經"),
    ("cookie", "本網站使用 Cookie 以提升您的瀏覽體驗。"),
    ("footer", "版權所有 © 2023 範例新聞網"),
]
_TITLE_ONLY = "他的妻子與父親都出席了這場活動。"
_ORG = "大同公司與中華電信在台北簽署了合作備忘錄。"

_EPOCH = dt.datetime(2023, 11, 28)  # CC-MAIN-2023-50 window start


def make_doc(doc_id: int, seed: int) -> tuple[dict, list[dict]]:
    """(doc row, golden triple rows) for one id — pure function of (seed, id)."""
    rng = random.Random(f"{seed}:{doc_id}")
    url_lang_roll = rng.random()
    lang = "zh" if url_lang_roll < 0.8 else rng.choice(["en", "de", "es", "fr"])
    url = f"https://synth.example/{lang}/{doc_id:08d}"

    golden: list[dict] = []
    content: list[str] = []

    if lang != "zh":
        content = [_LATIN_FILLER[lang]] * rng.randint(2, 4)
    else:
        instances: list[tuple[str, str, str, str]] = []  # (a_surface, b_surface, cls, tid)
        has_rel = rng.random() < 0.45
        has_expansion_only = False
        if has_rel:
            k = rng.randint(1, 3)
            names = rng.sample(CAST, 2 * k)
            chosen = [
                rng.choices(
                    TEMPLATES,
                    weights=[0.5 if t.expansion_only else 1.0 for t in TEMPLATES],
                )[0]
                for _ in range(k)
            ]
            # expansion runs only on docs with non-empty consensus (reference
            # ``sota_ner/ckip_expansion.py:238-239``), so an expansion-only
            # sentence must co-occur with at least one detectable one.
            if all(t.expansion_only for t in chosen):
                chosen[0] = next(t for t in TEMPLATES if not t.expansion_only)
            for i, tmpl in enumerate(chosen):
                a, b = names[2 * i], names[2 * i + 1]
                has_expansion_only |= tmpl.expansion_only
                content.append(tmpl.fmt.format(A=a, B=b))
                instances.append((a, b, tmpl.cls, tmpl.tid))
                # simplified-script duplicate (collapses after s2t)
                if a in SIMPLIFIED and b in SIMPLIFIED and rng.random() < 0.3:
                    content.append(
                        tmpl.fmt.format(A=SIMPLIFIED[a], B=SIMPLIFIED[b])
                    )
        # distractors
        if rng.random() < 0.15:
            content.append(_TITLE_ONLY)
        if rng.random() < 0.15:
            content.append(_ORG)
        if rng.random() < 0.10:
            content.append(SELF_PAIR_FMT.format(A=rng.choice(CAST)))
        if rng.random() < 0.20:
            content.append(f"{rng.choice(CAST)}{rng.choice(TITLES)}出席了研討會。")
        dense_page = not has_expansion_only and rng.random() < 0.04
        if dense_page:
            content.append("與會者包括" + "、".join(rng.sample(CAST, 25)) + "。")

        content.extend(rng.choice(_ZH_FILLER) for _ in range(rng.randint(2, 5)))
        rng.shuffle(content)

        if has_rel and rng.random() < 0.12:
            # long front padding pushes relation sentences past char 1024
            pad = "".join(rng.choice(_ZH_FILLER) for _ in range(70))
            content.insert(0, pad[:1300])
        if has_rel:
            # keep name density under the expansion cap (1.9 names / 100 chars)
            while sum(len(p) for p in content) < 700:
                content.append(rng.choice(_ZH_FILLER))

        text_preview = "\n".join(content)
        trad_preview = s2t(text_preview)
        # density-high docs are dropped from the golden merge entirely
        # (reference ``sota_ner/ckip_expansion.py:165-166`` skip +
        # ``:190`` non-empty filter) — a dense page yields no golden triples.
        if dense_page:
            instances = []
        seen: set[tuple[str, str, str]] = set()
        for a, b, cls, _tid in instances:
            sa, sb = s2t(a), s2t(b)
            if sa == sb:
                continue
            lo, hi = sorted([sa, sb])
            if (lo, hi, cls) in seen:
                continue
            seen.add((lo, hi, cls))
            head = trad_preview[:1024]
            golden.append(
                {
                    "url": url,
                    "subj": lo,
                    "obj": hi,
                    "rel": cls,
                    "in_first_1024": (sa in head and sb in head),
                }
            )

    text = "\n".join(content)

    # html: content paragraphs interleaved with boilerplate ones.
    parts = ["<html><body>"]
    boiler_iter = itertools.cycle(_BOILER)
    for i, para in enumerate(content):
        if i % 3 == 0:
            cls_name, body = next(boiler_iter)
            parts.append(f'<p class="{cls_name}">{body}</p>')
        parts.append(f"<p>{para}</p>")
    parts.append("</body></html>")
    html = "".join(parts).encode("utf-8")

    ts = _EPOCH + dt.timedelta(minutes=(doc_id * 37) % (14 * 24 * 60))
    row = {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}
    return row, golden


def _batch_gen(ids: pd.Series, seed: int, want: str) -> pd.DataFrame:
    doc_rows, golden_rows = [], []
    for doc_id in ids:
        row, gold = make_doc(int(doc_id), seed)
        if want == "docs":
            doc_rows.append(row)
        else:
            golden_rows.extend(gold)
    if want == "docs":
        return pd.DataFrame(
            doc_rows, columns=["url", "warc_ts", "html", "text", "lang"]
        )
    return pd.DataFrame(
        golden_rows, columns=["url", "subj", "obj", "rel", "in_first_1024"]
    )


def _default_partitions(spark, n_docs: int) -> int:
    """Data-proportional partitioning (~500 docs/partition, the
    maxPartitionBytes analog): partition count scales with DATA volume, not
    core count. Python-worker startup is paid per (plan node × partition), so
    core-count-sized partitioning over-pays at small inputs while large
    inputs naturally exceed the core count and saturate the cluster."""
    return max(2, min(n_docs // 500 + 1, spark.sparkContext.defaultParallelism * 4))


def generate_corpus(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Distributed corpus DataFrame (url, warc_ts, html, text, lang)."""
    partitions = partitions or _default_partitions(spark, n_docs)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _batch_gen(pdf["id"], seed, "docs")

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=DOCS_SCHEMA)
    )


def golden_triples(spark, n_docs: int, seed: int = 42, partitions: int | None = None):
    """Generator-emitted oracle triples (url, subj, obj, rel, in_first_1024)."""
    partitions = partitions or _default_partitions(spark, n_docs)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield _batch_gen(pdf["id"], seed, "golden")

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, schema=GOLDEN_SCHEMA)
    )


def write_corpus(spark, out_dir: str, n_docs: int, seed: int = 42) -> None:
    """Materialize corpus + golden to parquet under ``out_dir``."""
    generate_corpus(spark, n_docs, seed).write.mode("overwrite").parquet(
        f"{out_dir}/web_pages.parquet"
    )
    golden_triples(spark, n_docs, seed).write.mode("overwrite").parquet(
        f"{out_dir}/golden_triples.parquet"
    )
