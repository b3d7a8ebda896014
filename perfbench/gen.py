"""Seeded input generator for the benchmark workloads.

Everything here is a pure function of ``seed``: the same seed gives
byte-identical parquet files. No Spark is involved, so generation time is
reported apart from the set-up and job times.

- :func:`news_pages` builds the ``crawl_extract`` pages: unique
  "news-article" html with head metadata, style sheets and analytics
  scripts, a navigation menu, story cards, ad slots, comment and footer
  link lists around the article; a Zipf vocabulary (CJK pages included),
  html entities, lognormal sizes in the 14-82 KB range of real news pages
  with a small tail of 2-2.7 MB and deeply nested pages, ld+json
  Articles, ``<time datetime>`` tags, invalid UTF-8 and null html.
- :func:`documents` builds the ``curate_text`` documents table: article
  text in five languages with seeded exact and near duplicates.

Every share is an exact count drawn without replacement, so a share lands
on its target for any seed and run-to-run variation comes only from which
rows carry it.
"""

from __future__ import annotations

import base64
import datetime as _dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PAGES_SCHEMA = pa.schema([
    pa.field("url", pa.string()),
    pa.field("warc_ts", pa.timestamp("us")),
    pa.field("html", pa.binary()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
])

DOCUMENTS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64()),
    pa.field("text", pa.string()),
    pa.field("lang", pa.string()),
    pa.field("source", pa.string()),
    pa.field("n_chars", pa.int64()),
])

# crawl_extract shares (of all rows)
LDJSON_SHARE = 0.10
TIME_SHARE = 0.30
INVALID_UTF8_SHARE = 0.01
NULL_HTML_SHARE = 0.005
HUGE_SHARE = 0.003  # 2-2.7 MB pages
NESTED_SHARE = 0.003  # deeply nested pages
CJK_SHARE = 0.15

# Ordinary page sizes: lognormal bytes of html, clipped to the range of
# the reference's seven golden news pages (14-82 KB, about 47 KB on
# average; SURVEY.md section 5.1, BENCH/BASELINE.md). Their extracted
# article text runs from 1.2 to 31 KB with a median of about 2 KB
# (tests/fixtures/golden), so most of a page is chrome: the article is a
# lognormal number of paragraphs of about 0.6 KB each.
PAGE_BYTES_MEDIAN = 44_000
PAGE_BYTES_SIGMA = 0.4
PAGE_BYTES_MIN, PAGE_BYTES_MAX = 14_000, 82_000
PARAS_MEDIAN = 5

# curate_text shares (of all documents)
DOC_EXACT_DUP_SHARE = 0.05
DOC_NEAR_DUP_SHARE = 0.10
DOC_LANGS = ("en", "de", "fr", "es", "zh")
DOC_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)

_EPOCH = _dt.datetime(2025, 1, 1)
_ENTITIES = ("&amp;", "&nbsp;", "&#8217;", "&quot;", "&lt;", "&gt;",
             "&eacute;", "&#x201C;", "&#x201D;", "&mdash;")

# marker words per language, so language identification has signal; the
# rest of the vocabulary is synthetic and shared
_FUNCTION_WORDS = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was",
           "for", "with", "his", "they", "this", "have"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "eine",
           "mit", "auf", "für", "sich", "dem", "den", "auch"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans", "que", "qui",
           "pas", "pour", "vous", "des", "sur", "mais"),
    "es": ("el", "los", "las", "es", "una", "que", "en", "por", "con",
           "para", "del", "se", "su", "como", "más"),
}
_SYLLABLES = ("ka", "lo", "mi", "ne", "ra", "tu", "vo", "sel", "dor", "an",
              "ber", "cho", "fi", "gru", "hen", "is", "jor", "kel", "mun",
              "pra", "qua", "ris", "sto", "tem", "ul", "ven", "wy", "xan",
              "zel", "ost")


class _Vocab:
    """Fixed synthetic vocabularies, identical for every seed (the seed
    chooses which words a page draws, not what the words are)."""

    def __init__(self, size: int = 6000, cjk_size: int = 3000):
        rng = np.random.default_rng(20250101)
        words = set()
        while len(words) < size:
            k = int(rng.integers(1, 5))
            words.add("".join(_SYLLABLES[int(i)]
                              for i in rng.integers(0, len(_SYLLABLES), k)))
        self.words = np.array(sorted(words))
        cps = rng.choice(np.arange(0x4E00, 0x9FA0), cjk_size, replace=False)
        self.cjk = np.array([chr(int(c)) for c in cps])
        # Zipf rank weights as cumulative tables for inverse-CDF draws
        w = np.cumsum(1.0 / np.arange(1, size + 1) ** 1.1)
        self.cdf = w / w[-1]
        wc = np.cumsum(1.0 / np.arange(1, cjk_size + 1) ** 1.05)
        self.cdf_cjk = wc / wc[-1]

    def draw(self, rng, n: int) -> list:
        idx = np.searchsorted(self.cdf, rng.random(n), side="right")
        return self.words[np.minimum(idx, len(self.words) - 1)].tolist()

    def draw_cjk(self, rng, n: int) -> str:
        idx = np.searchsorted(self.cdf_cjk, rng.random(n), side="right")
        return "".join(self.cjk[np.minimum(idx, len(self.cjk) - 1)])


_VOCAB = None


def _vocab() -> _Vocab:
    global _VOCAB
    if _VOCAB is None:
        _VOCAB = _Vocab()
    return _VOCAB


def _pick(rng, n: int, share: float, exclude=None) -> np.ndarray:
    """Exactly ``round(n * share)`` distinct row indices (at least one when
    the share is positive), avoiding ``exclude``."""
    k = max(1, int(round(n * share))) if share > 0 else 0
    pool = np.arange(n)
    if exclude is not None and len(exclude):
        pool = np.setdiff1d(pool, exclude)
    return np.sort(rng.choice(pool, k, replace=False))


def _sentence(rng, lang: str, n_words: int) -> str:
    v = _vocab()
    if lang == "zh":
        return v.draw_cjk(rng, n_words * 2) + "。"
    words = v.draw(rng, n_words)
    fw = _FUNCTION_WORDS[lang]
    for j in range(0, n_words, 4):  # ~25% function words
        words[j] = fw[int(rng.integers(0, len(fw)))]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def _paragraph(rng, lang: str, entities: bool) -> str:
    parts = [_sentence(rng, lang, int(rng.integers(8, 22)))
             for _ in range(int(rng.integers(2, 6)))]
    if entities and lang != "zh":
        # a few entities and an inline link inside running text
        j = int(rng.integers(0, len(parts)))
        parts[j] = (parts[j][:-1] + " " + _ENTITIES[int(rng.integers(0, 10))]
                    + " " + _word(rng) + ".")
        k = int(rng.integers(0, len(parts)))
        parts[k] = f'<a href="/topic/{_word(rng)}">{_word(rng)}</a> ' + parts[k]
    return " ".join(parts)


def _word(rng) -> str:
    v = _vocab()
    return str(v.words[int(rng.integers(0, len(v.words)))])


class _Pool:
    """Per-seed pools of page parts: paragraphs, comment lines, titles, and
    the page chrome around an article (style sheets, analytics scripts,
    navigation menus, story cards, ad slots, footers). Composition is cheap
    string joining, so a corpus of a thousand 50 KB pages generates in
    about a second; every page still differs in title, date, links and
    part choice."""

    def __init__(self, rng, lang: str, n_paras: int = 600, n_small: int = 400):
        self.lang = lang
        self.paras = [_paragraph(rng, lang, entities=True)
                      for _ in range(n_paras)]
        self.comments = [_sentence(rng, lang, int(rng.integers(3, 12)))
                         for _ in range(n_small)]
        self.titles = [_sentence(rng, lang, int(rng.integers(4, 10)))[:-1]
                       for _ in range(n_small)]
        self.styles = [_style(rng, int(rng.integers(30, 90))) for _ in range(24)]
        self.scripts = [_script(rng, int(rng.integers(30, 120)))
                        for _ in range(40)]
        self.menus = [_menu(rng, int(rng.integers(6, 14))) for _ in range(24)]
        self.footers = [_footer(rng) for _ in range(24)]
        self.ads = [_ad(rng) for _ in range(60)]
        self.cards = [_card(rng, self) for _ in range(n_small)]
        # filler for the "more stories" rail, with byte lengths, so a page
        # is padded to its target size without re-encoding it
        self.fill = [(c, len(c.encode())) for c in self.cards + self.ads]


_CSS_PROPS = ("margin", "padding", "top", "left", "width", "max-width",
              "font-size", "line-height", "border-radius", "gap")
_AD_SIZES = ("300x250", "728x90", "320x50", "970x250", "300x600")


def _style(rng, n_rules: int) -> str:
    rules = []
    for _ in range(n_rules):
        props = ";".join(f"{_one(rng, _CSS_PROPS)}:{int(rng.integers(0, 40))}px"
                         for _ in range(int(rng.integers(2, 6))))
        rules.append(f".{_word(rng)}-{_word(rng)}{{{props}}}")
    return "<style>" + "".join(rules) + "</style>"


def _script(rng, n_keys: int) -> str:
    cfg = {f"{_word(rng)}_{i}": (_word(rng) if rng.random() < 0.5
                                 else int(rng.integers(0, 10**6)))
           for i in range(n_keys)}
    return ("<script>window.dataLayer=window.dataLayer||[];dataLayer.push("
            + json.dumps(cfg) + ");</script>")


def _menu(rng, n_sections: int) -> str:
    secs = []
    for _ in range(n_sections):
        sec = _word(rng)
        items = "".join(
            f'<li class="menu__item"><a class="menu__link" '
            f'href="/{sec}/{_word(rng)}">{_word(rng).capitalize()}</a></li>'
            for _ in range(int(rng.integers(3, 10))))
        secs.append(f'<li class="menu__section"><a class="menu__title" '
                    f'href="/{sec}/">{sec.capitalize()}</a>'
                    f'<ul class="menu__sub">{items}</ul></li>')
    return ('<nav class="menu" role="navigation"><ul class="menu__list">'
            + "".join(secs) + "</ul></nav>")


def _card(rng, pool: "_Pool") -> str:
    slug = f"{_word(rng)}-{int(rng.integers(0, 10**6))}"
    return (
        f'<div class="card card--{_one(rng, ("small", "wide", "list"))}">'
        f'<a class="card__media" href="/story/{slug}"><img '
        f'src="https://img.example.com/{slug}/{int(rng.integers(0, 10**9))}.jpg"'
        f' alt="{_word(rng)}" width="300" height="200" loading="lazy"></a>'
        f'<div class="card__body"><span class="card__kicker">{_word(rng)}</span>'
        f'<h3 class="card__title"><a href="/story/{slug}">'
        f'{_one(rng, pool.titles)}</a></h3>'
        f'<p class="card__dek">{_one(rng, pool.comments)}</p></div></div>'
    )


def _ad(rng) -> str:
    slot = f"ad-{_word(rng)}-{int(rng.integers(0, 1000))}"
    return (f'<div class="ad-slot" id="{slot}" data-size="{_one(rng, _AD_SIZES)}">'
            f'<script>googletag.cmd.push(function(){{googletag.display("{slot}");'
            f'}});</script></div>')


def _footer(rng) -> str:
    cols = "".join(
        f'<div class="footer__col"><h4>{_word(rng).capitalize()}</h4>'
        + _link_list(rng, int(rng.integers(4, 10)), "footer") + "</div>"
        for _ in range(int(rng.integers(3, 6))))
    return (f'<footer class="site-footer">{cols}<p class="legal">&copy; 2025 '
            f'{_word(rng)}. All rights reserved.</p></footer>')


def _link_list(rng, n: int, cls: str) -> str:
    items = "".join(
        f'<li><a href="/{cls}/{_word(rng)}-{i}">{_word(rng)} {_word(rng)}</a></li>'
        for i in range(n)
    )
    return f'<ul class="{cls}">{items}</ul>'


def _iso(ts: _dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _one(rng, items):
    return items[int(rng.integers(0, len(items)))]


def _article_html(rng, pool: _Pool, *, page_id: int, target_bytes: int,
                  n_paras: int, ldjson: bool, time_tag: bool, nested: int = 0,
                  inline_bytes: int = 0) -> str:
    """One news-article page composed from ``pool``: head (metadata, style
    sheets, analytics scripts), navigation menu, the article (``n_paras``
    paragraphs with ad slots between them), a card sidebar, comments and a
    footer; a "more stories" rail of cards and ad slots then pads the page
    to about ``target_bytes`` of UTF-8. ``nested`` wraps the article in
    that many ``<div>`` levels; ``inline_bytes`` adds an inline script
    state blob and a data-URI image of together about two thirds of that
    many bytes (the shape of real MB-scale pages)."""
    title = f"{_one(rng, pool.titles)} {page_id}"
    ts = _EPOCH + _dt.timedelta(minutes=int(rng.integers(0, 500_000)))
    site = _word(rng).capitalize()
    head = [f"<title>{title} | The Daily {site}</title>",
            '<meta charset="utf-8">',
            '<meta name="viewport" content="width=device-width, initial-scale=1">',
            f'<meta property="og:title" content="{title}">',
            f'<meta property="og:site_name" content="The Daily {site}">',
            f'<link rel="canonical" href="https://daily{site.lower()}.example/'
            f'story/{page_id}">']
    head.extend(_one(rng, pool.styles) for _ in range(int(rng.integers(1, 3))))
    head.extend(_one(rng, pool.scripts) for _ in range(int(rng.integers(1, 4))))
    paras = [pool.paras[int(k)]
             for k in rng.integers(0, len(pool.paras), n_paras)]
    if ldjson:
        art = {"@context": "https://schema.org", "@type": "Article",
               "headline": title, "datePublished": _iso(ts),
               "author": {"@type": "Person",
                          "name": f"{_word(rng).capitalize()} "
                                  f"{_word(rng).capitalize()}"}}
        if rng.random() < 0.5:
            art["articleBody"] = " ".join(
                p for p in paras if "<" not in p)[:2000]
        head.append('<script type="application/ld+json">'
                    + json.dumps(art, ensure_ascii=False) + "</script>")
    if inline_bytes:
        blob = base64.b64encode(rng.bytes(inline_bytes * 3 // 8)).decode()
        head.append(f'<script>window.__STATE__="{blob}";</script>')
    body = [f"<h1>{title}</h1>",
            f'<div class="byline">By <a href="/author/{_word(rng)}">'
            f'{_word(rng).capitalize()} {_word(rng).capitalize()}</a></div>']
    if time_tag:
        body.append(f'<time datetime="{_iso(ts)}">{ts:%B %d, %Y}</time>')
    for j, p in enumerate(paras):
        body.append(f"<p>{p}</p>")
        if j % 4 == 3:
            body.append(_one(rng, pool.ads))
    if inline_bytes:
        body.append('<img alt="chart" src="data:image/png;base64,'
                    + blob[: len(blob) // 3] + '">')
    article = "<article>" + "".join(body) + "</article>"
    if nested:
        article = "<div>" * nested + article + "</div>" * nested
    comments = "".join(
        f'<li class="comment"><p>{_one(rng, pool.comments)}</p>'
        f'<a href="/user/{_word(rng)}">reply</a></li>'
        for _ in range(int(rng.integers(0, 8)))
    )
    sidebar = "".join(_one(rng, pool.cards)
                      for _ in range(int(rng.integers(3, 7))))
    page = (
        "<!DOCTYPE html><html><head>" + "".join(head) + "</head><body>"
        + "<header>" + _one(rng, pool.menus) + "</header>"
        + f'<main>{article}<aside class="sidebar">{sidebar}</aside>'
        + f'<section class="comments"><ul>{comments}</ul></section>'
    )
    size = len(page.encode())
    footer = _one(rng, pool.footers)
    size += len(footer) + 60
    rail = []
    while size < target_bytes:
        part, n = _one(rng, pool.fill)
        rail.append(part)
        size += n
    return (page + '<section class="more-stories">' + "".join(rail)
            + "</section></main>" + footer + "</body></html>")


def _corrupt(rng, html: bytes) -> bytes:
    """Splice invalid UTF-8 (a stray continuation byte, a truncated
    three-byte sequence or a 0xFF 0xFE pair) into the first paragraph."""
    mid = html.find(b"<p>")
    mid = len(html) // 2 if mid < 0 else mid + 3
    bad = (b"\x80", b"\xe4\xb8", b"\xff\xfe")[int(rng.integers(0, 3))]
    return html[:mid] + bad + b" " + html[mid:]


def _host(rng, n_hosts: int) -> int:
    # Zipf-skewed host popularity, as in crawl order
    return int(min(rng.zipf(1.3), n_hosts)) - 1


def _url(host: int, lang: str, i: int, slug: str) -> str:
    return f"https://news{host:03d}.example.{lang}/story/{i:07d}-{slug}"


def news_pages(seed: int, n: int) -> pa.Table:
    """The crawl_extract pages table: ``n`` unique urls, each with its own
    payload."""
    rng = np.random.default_rng([seed, 1])
    pools = {lang: _Pool(rng, lang) for lang in ("en", "zh")}
    ldjson = set(_pick(rng, n, LDJSON_SHARE).tolist())
    time_tag = set(_pick(rng, n, TIME_SHARE).tolist())
    null_rows = _pick(rng, n, NULL_HTML_SHARE)
    huge = _pick(rng, n, HUGE_SHARE, exclude=null_rows)
    nested = _pick(rng, n, NESTED_SHARE, exclude=np.concatenate([null_rows, huge]))
    invalid = set(_pick(rng, n, INVALID_UTF8_SHARE, exclude=null_rows).tolist())
    cjk = set(_pick(rng, n, CJK_SHARE).tolist())
    null_rows, huge, nested = (set(a.tolist()) for a in (null_rows, huge, nested))
    target = np.clip(rng.lognormal(np.log(PAGE_BYTES_MEDIAN), PAGE_BYTES_SIGMA, n),
                     PAGE_BYTES_MIN, PAGE_BYTES_MAX).astype(int)
    n_paras = np.clip(rng.lognormal(np.log(PARAS_MEDIAN), 0.8, n),
                      2, 40).astype(int)

    urls, ts, htmls, langs = [], [], [], []
    for i in range(n):
        lang = "zh" if i in cjk else "en"
        big = i in huge
        html = _article_html(
            rng, pools[lang], page_id=i, target_bytes=int(target[i]),
            # a huge page is a long read or live blog as well as inline
            # state: its article has 600-1500 paragraphs
            n_paras=int(rng.integers(600, 1500)) if big else int(n_paras[i]),
            ldjson=i in ldjson, time_tag=i in time_tag,
            nested=int(rng.integers(400, 900)) if i in nested else 0,
            inline_bytes=int(rng.integers(2 << 20, 3 << 20)) if big else 0,
        ).encode("utf-8")
        if i in invalid:
            html = _corrupt(rng, html)
        urls.append(_url(_host(rng, 200), lang, i, _word(rng)))
        ts.append(_EPOCH + _dt.timedelta(seconds=int(rng.integers(0, 10**7))))
        htmls.append(None if i in null_rows else html)
        langs.append(lang)
    return _pages_table(urls, ts, htmls, langs)


def _pages_table(urls, ts, htmls, langs) -> pa.Table:
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.nulls(len(urls), pa.string()),
        "lang": pa.array(langs, pa.string()),
    }, schema=PAGES_SCHEMA)


def documents(seed: int, n: int) -> pa.Table:
    """The curate_text documents table: article text in five languages,
    with exact duplicates and near duplicates (a copy with ~5% of its
    tokens replaced) of earlier documents."""
    rng = np.random.default_rng([seed, 3])
    rows = rng.permutation(np.arange(1, n))
    n_exact = int(round(n * DOC_EXACT_DUP_SHARE))
    n_near = int(round(n * DOC_NEAR_DUP_SHARE))
    exact = set(rows[:n_exact].tolist())
    near = set(rows[n_exact:n_exact + n_near].tolist())
    lang_of = rng.choice(len(DOC_LANGS), n, p=DOC_LANG_P)
    texts, langs, sources = [], [], []
    for i in range(n):
        if i in exact or i in near:
            j = int(rng.integers(0, i))
            lang, text = langs[j], texts[j]
            if i in near:
                toks = text.split(" ")
                for k in rng.choice(len(toks), max(1, len(toks) // 20),
                                    replace=False):
                    toks[int(k)] = _word(rng)
                text = " ".join(toks)
        else:
            lang = DOC_LANGS[int(lang_of[i])]
            n_paras = int(np.clip(rng.lognormal(np.log(3), 0.6), 1, 20))
            text = "\n".join(_paragraph(rng, lang, entities=False)
                             for _ in range(n_paras))
        texts.append(text)
        langs.append(lang)
        sources.append(f"src{_host(rng, 20)}")
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }, schema=DOCUMENTS_SCHEMA)


def write_files(table: pa.Table, out_dir: str, n_files: int) -> list[str]:
    """Write ``table`` as ``n_files`` parquet files of contiguous row
    ranges (one row group each, fixed writer settings, so the bytes depend
    only on the table)."""
    os.makedirs(out_dir, exist_ok=True)
    n = table.num_rows
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    paths = []
    for k in range(n_files):
        part = table.slice(int(bounds[k]), int(bounds[k + 1] - bounds[k]))
        path = os.path.join(out_dir, f"part-{k:05d}.parquet")
        pq.write_table(part, path, compression="snappy",
                       row_group_size=max(1, part.num_rows))
        paths.append(path)
    return paths
