"""Seeded input generators: one ``pages(url, warc_ts, html, text, lang)``
parquet table per workload, built in one process from the vendored
``data/documents.parquet`` corpus (a copy of the ``documents`` table of the
sf0.1 test data), so later program changes cannot move the input.

Each generator returns ``(rows, plan)``: ``rows`` are the page tuples in
schema order, ``plan`` the facts the benchmark checks the outputs against
(the planned format mix, or the expected curate funnel).
The same ``(workload, seed)`` always gives the same bytes.
"""

from __future__ import annotations

import datetime as _dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CORPUS = os.path.join(HERE, "data", "documents.parquet")

# fixed epoch (the reference snapshot date, as data/pages.py uses): no now()
EPOCH = _dt.datetime(2024, 8, 7, tzinfo=_dt.timezone.utc)

SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)

# Page counts per workload, set by the run budget: a run holds a JVM start,
# a warm-up job and three timed extraction jobs (one flagship job) in well
# under a minute on a 4-vCPU machine.
SIZES = {"dict_a": 4000, "dict_mixed": 1000, "crawl_flagship": 300}

# dict_mixed format shares (percent); each format trips its own
# formats/detect.py fingerprint
MIX = (("A", 25), ("B", 25), ("C", 15), ("D", 15), ("generic", 20))

STOP = ("the", "of", "and", "to", "with", "that", "be", "have", "in", "for")
_PREFIX = ("", "", "re", "un", "pre", "sub", "co")
_SUFFIX = ("", "", "s", "ed", "ing", "er", "ly")


def load_corpus() -> list[tuple[int, str, str]]:
    t = pq.read_table(CORPUS).to_pydict()
    return list(zip(t["doc_id"], t["text"], t["lang"]))


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _ts(seconds: int) -> _dt.datetime:
    return EPOCH + _dt.timedelta(seconds=seconds)


# --- format A (the data/pages.synthetic_pages_df shape) ---------------------

_A_HEAD = (
    '<!doctype html>\n<html><head><meta charset="utf-8"><title>synth</title>\n'
    '<style type="text/css">p.af1{margin:0cm}span.af{color:#C00000;font-weight:bold}'
    "span.a1{font-style:italic}span.aff0{font-weight:bold}</style></head><body>\n"
)


def _a_block(doc_id: int, text: str) -> str:
    return (
        f'<p class="af1"><span class="af">DOC{doc_id}</span><span class="af2"> </span>'
        f'<span class="a1">сущ</span>. {_esc(text[:2000])}</p>\n'
        f'<p class="af1">♦ <span class="aff0">{_esc(text[:80])}</span> '
        f'<span class="a1">перен</span>. {_esc(text[80:280])}</p>\n'
    )


def page_a(doc_id: int, text: str, paragraphs: int = 10) -> str:
    """Byte-for-byte the page data/pages.synthetic_pages_df builds for one
    document (the entry block repeated ``paragraphs`` times)."""
    return _A_HEAD + _a_block(doc_id, text) * paragraphs + "</body></html>\n"


def page_a_sized(rng, corpus, target: int) -> str:
    parts = [_A_HEAD]
    size = len(_A_HEAD)
    while size < target:
        doc_id, text, _ = rng.choice(corpus)
        b = _a_block(doc_id, text)
        parts.append(b)
        size += len(b.encode())
    parts.append("</body></html>\n")
    return "".join(parts)


# --- format B (Word HTML, inline styles, red headwords) ---------------------

_B_HEAD = (
    "<html><head><style>p.a7{margin:0}span.hw{color:#C0504D;font-weight:bold}"
    "span.it{font-style:italic}span.b{font-weight:bold}</style></head><body>\n"
)


def page_b(rng, corpus, target: int) -> str:
    parts = [_B_HEAD]
    size = len(_B_HEAD)
    while size < target:
        _, text, _ = rng.choice(corpus)
        w = text.split()
        head = rng.choice(w).upper()
        cut = max(2, len(w) // 3)
        line = (
            f"<p class=a7><span class=hw>{head}</span><sup>1</sup> "
            f"<span class=it>сущ.</span> 1. {' '.join(w[:cut])} "
            f"<span class=b>{' '.join(w[cut:cut + 4])}</span> "
            f"2. {' '.join(w[cut + 4:])}</p>\n"
        )
        parts.append(line)
        size += len(line.encode())
    parts.append("</body></html>\n")
    return "".join(parts)


# --- format C (idrviewer PDF->HTML, absolutely positioned spans) ------------

_C_FONTS = (
    "TimesNewRomanPS-BoldMT_f7m",
    "TimesNewRomanPSMT_f7b",
    "TimesNewRomanPS-ItalicMT_f7i",
)


def page_c(rng, corpus, target: int) -> str:
    spans, rules = [], []
    size, k, bottom = 600, 0, 1100
    while size < target:
        _, text, _ = rng.choice(corpus)
        w = text.split()
        runs = [(0, " ".join(w[:2]).upper() + " "), (1, " ".join(w[2:8]) + " ")]
        if len(w) > 8:
            runs.append((2, " ".join(w[8:11]) + " "))
            runs.append((1, " ".join(w[11:]) + " "))
        left = 80
        for font, run in runs:
            k += 1
            rules.append(f"#t{k}_1{{left:{left}px;bottom:{bottom}px;}}")
            span = f'<span id="t{k}_1" class="t s{font + 1}_1">{_esc(run)}</span>\n'
            spans.append(span)
            size += len(span) + len(rules[-1]) + 12
            left += 9 * len(run)
        bottom = bottom - 18 if bottom > 60 else 1100
    fonts = "".join(
        f".s{i + 1}_1{{font-family:{f};font-size:14px;}}" for i, f in enumerate(_C_FONTS)
    )
    return (
        '<html><head><meta charset="utf-8"><meta name="generator" content="idrviewer">'
        f"<style>{fonts}{''.join(rules)}</style></head>"
        f'<body><div id="p1" class="page">\n{"".join(spans)}</div></body></html>\n'
    )


# --- format D (pdf2htmlEX line divs with class-token styling) ---------------

_D_HEAD = (
    '<!DOCTYPE html><html><head><meta charset="utf-8"/>'
    '<meta name="generator" content="pdf2htmlEX"/></head><body>'
    '<div id="page-container"><div id="pf1" class="pf w0 h0"><div class="pc">\n'
)


def page_d(rng, corpus, target: int) -> str:
    parts = [_D_HEAD]
    size, y = len(_D_HEAD), 0
    while size < target:
        _, text, _ = rng.choice(corpus)
        w = text.split()
        y += 1
        line = (
            f'<div class="t m0 x1 y{y} ff7 fs0 fc2">{rng.choice(w).upper()}'
            f'<span class="ff1 fc0"> n. {" ".join(w[:12])}; </span></div>\n'
        )
        if len(w) > 12:
            y += 1
            line += f'<div class="t m0 x1 y{y} ff1 fs0 fc0">{" ".join(w[12:])} </div>\n'
        parts.append(line)
        size += len(line.encode())
    parts.append("</div></div></div></body></html>\n")
    return "".join(parts)


# --- generic web pages ------------------------------------------------------


def _word(rng, w: str) -> str:
    return rng.choice(_PREFIX) + w + rng.choice(_SUFFIX)


def prose(rng, corpus, n_docs: int) -> str:
    """Sentences from ``n_docs`` corpus documents.  The corpus has a
    31-word vocabulary, so every word takes a seeded affix and every third
    word is followed by a stop word: the text passes the Gopher gates and
    two unrelated pages share almost no 3-word shingle (no false MinHash
    near-duplicates)."""
    out = []
    for _ in range(n_docs):
        _, text, _ = rng.choice(corpus)
        words = text.split()
        sent = []
        for i, w in enumerate(words):
            sent.append(_word(rng, w))
            if i % 3 == 2:
                sent.append(rng.choice(STOP))
            if len(sent) >= 14 or i == len(words) - 1:
                s = " ".join(sent)
                out.append(s[0].upper() + s[1:] + ".")
                sent = []
    return " ".join(out)


def page_generic(
    host: str,
    title: str,
    body_paras: list[str],
    outlinks: list[str],
    noindex: bool = False,
) -> str:
    """A web page with nav/footer boilerplate around an article; outlinks
    sit in a related-links aside (boilerplate) and inline in the text."""
    nav = " ".join(
        f'<a href="https://{host}/{p}">{p.title()}</a>'
        for p in ("home", "news", "about", "contact")
    )
    meta = '<meta name="robots" content="noindex, follow">' if noindex else ""
    paras = []
    for i, p in enumerate(body_paras):
        if i < len(outlinks):
            paras.append(f'<p>{_esc(p)} See <a href="{outlinks[i]}">source</a>.</p>')
        else:
            paras.append(f"<p>{_esc(p)}</p>")
    aside = "".join(f'<li><a href="{u}">related story</a></li>' for u in outlinks)
    return (
        f'<!doctype html><html><head><meta charset="utf-8"><title>{_esc(title)}</title>{meta}'
        f"</head><body><header><nav>{nav}</nav></header>"
        f"<main><article><h1>{_esc(title)}</h1>{''.join(paras)}</article></main>"
        f'<aside class="sidebar"><ul>{aside}</ul></aside>'
        f"<footer><p>Copyright {host}. All rights reserved.</p>"
        f'<a href="https://{host}/privacy">Privacy</a></footer></body></html>\n'
    )


def _generic_sized(rng, corpus, host: str, target: int) -> str:
    paras = [prose(rng, corpus, 1)]
    size = 600 + len(paras[0])
    while size < target:
        paras.append(prose(rng, corpus, 1))
        size += len(paras[-1]) + 8
    title = prose(rng, corpus, 1)[:60]
    return page_generic(host, title, paras, [])


# --- workloads --------------------------------------------------------------


def gen_dict_a(seed: int, n: int | None = None):
    rng = random.Random(f"dict_a:{seed}")
    corpus = load_corpus()
    rows = []
    for i in range(n or SIZES["dict_a"]):
        doc_id, text, lang = rng.choice(corpus)
        html = page_a(doc_id, text).encode()
        rows.append((f"https://synth.example/{lang}/{doc_id}-{seed}-{i}.html", _ts(i), html, text, lang))
    return rows, {"fmt": {"A": len(rows)}}


def gen_dict_mixed(seed: int, n: int | None = None):
    """Formats in the MIX shares.  Page sizes are heavy-tailed: 1% of the
    pages are 0.5-1 MB, the rest 5-20 KB (log-uniform).  The large pages
    go to the DOM formats (B, C, D, generic in turn), since this workload
    is the DOM path; format-A pages, the fastscan path, stay small.  The
    counts are exact, not drawn, so every seed carries the same amount of
    each kind of work."""
    rng = random.Random(f"dict_mixed:{seed}")
    corpus = load_corpus()
    n = n or SIZES["dict_mixed"]
    counts = {fmt: n * pct // 100 for fmt, pct in MIX}
    counts["generic"] += n - sum(counts.values())
    dom = ("B", "C", "D", "generic")
    n_big = {fmt: sum(1 for i in range(n // 100) if dom[i % len(dom)] == fmt) for fmt in counts}
    plan = []
    for fmt, c in counts.items():
        plan += [(fmt, rng.randint(512 * 1024, 1024 * 1024)) for _ in range(n_big[fmt])]
        plan += [(fmt, int(5000 * 4 ** rng.random())) for _ in range(c - n_big[fmt])]
    rng.shuffle(plan)
    build = {
        "A": lambda t: page_a_sized(rng, corpus, t),
        "B": lambda t: page_b(rng, corpus, t),
        "C": lambda t: page_c(rng, corpus, t),
        "D": lambda t: page_d(rng, corpus, t),
        "generic": lambda t: _generic_sized(rng, corpus, f"site{rng.randrange(50)}.example", t),
    }
    rows = []
    for i, (fmt, size) in enumerate(plan):
        _, text, lang = rng.choice(corpus)
        html = build[fmt](size).encode()
        rows.append((f"https://mixed.example/{fmt}/{seed}-{i}.html", _ts(i), html, text, lang))
    return rows, {"fmt": counts, "fmt_by_url": {r[0]: f for r, (f, _) in zip(rows, plan)}}


def gen_crawl_flagship(seed: int, n: int | None = None):
    """Generic crawl pages.  Of ``n`` rows: ~10% repeat captures of an
    earlier url (later warc_ts), ~10% near-duplicates (the same article on
    another host, different boilerplate), ~1% noindex pages; outlinks go to
    300 hosts with Zipf-skewed in-degree.  Every other page is unique prose
    that passes the quality gates, so the curate funnel is known exactly:
    docs_in = distinct urls - noindex urls, nothing fails the gates, and
    each near-duplicate is dropped by MinHash dedup."""
    rng = random.Random(f"crawl_flagship:{seed}")
    corpus = load_corpus()
    n = n or SIZES["crawl_flagship"]
    hosts = [f"h{k:03d}.example" for k in range(300)]
    weights = [1.0 / (k + 1) for k in range(len(hosts))]
    n_repeat = n // 10
    n_neardup = n // 10
    n_noindex = max(3, n // 100)
    n_fresh = n - n_repeat - n_neardup
    articles = []  # (url, title, paras, lang)
    rows = []
    noindex_urls = set()
    for i in range(n_fresh):
        host = rng.choices(hosts, weights)[0]
        url = f"https://{host}/{seed}/a{i}.html"
        paras = [prose(rng, corpus, 2) for _ in range(2)]
        title = prose(rng, corpus, 1)[:60]
        outs = [
            f"https://{h}/p{rng.randrange(1000)}.html"
            for h in rng.choices(hosts, weights, k=rng.randint(2, 6))
        ]
        noindex = i < n_noindex
        if noindex:
            noindex_urls.add(url)
        _, text, lang = rng.choice(corpus)
        html = page_generic(host, title, paras, outs, noindex)
        rows.append((url, _ts(i), html.encode(), text, lang))
        articles.append((url, title, paras, outs, lang))
    # near-duplicates: same article (title, paragraphs, inline links) under
    # another host; only the boilerplate differs, so the main text is equal
    # and MinHash dedup must drop exactly one page per copy
    for j in range(n_neardup):
        src = articles[n_noindex + rng.randrange(len(articles) - n_noindex)]
        host = rng.choice(hosts)
        url = f"https://{host}/{seed}/mirror{j}.html"
        html = page_generic(host, src[1], src[2], src[3])
        rows.append((url, _ts(n_fresh + j), html.encode(), "", src[4]))
    # repeat captures: an earlier url fetched again with the same page
    # (latest_capture keeps the newest capture, so the count drops by one)
    for j in range(n_repeat):
        src = rows[rng.randrange(n_noindex, n_fresh)]
        rows.append((src[0], _ts(n + j), src[2], src[3], src[4]))
    order = list(range(len(rows)))
    rng.shuffle(order)
    rows = [rows[k] for k in order]
    distinct = len({r[0] for r in rows})
    docs_in = distinct - len(noindex_urls)
    funnel = {
        "pages_in": len(rows),
        "docs_in": docs_in,
        "after_quality_filter": docs_in,
        "after_dedup": docs_in - n_neardup,
    }
    return rows, {"funnel": funnel, "near_duplicates": n_neardup, "repeat_captures": n_repeat}


GENERATORS = {
    "dict_a": gen_dict_a,
    "dict_mixed": gen_dict_mixed,
    "crawl_flagship": gen_crawl_flagship,
}


def to_table(rows) -> pa.Table:
    cols = list(zip(*rows)) if rows else [[]] * len(SCHEMA)
    return pa.Table.from_arrays([pa.array(c, t.type) for c, t in zip(cols, SCHEMA)], schema=SCHEMA)


def write_pages(rows, path: str, n_files: int = 4) -> None:
    """Write ``rows`` as a parquet directory of ``n_files`` files (several
    files give the scan more than one task, as a real table has)."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(rows) // n_files)
    for k in range(n_files):
        part = rows[k * step:(k + 1) * step]
        if part:
            pq.write_table(to_table(part), os.path.join(path, f"part-{k:03d}.parquet"))
