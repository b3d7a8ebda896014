"""Tests for the seeded input generator.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

import pathlib
import sys

import pyarrow.parquet as pq
import pytest

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

import gen  # noqa: E402

N_PAGES = 2000
N_DOCS = 2000


@pytest.fixture(scope="module")
def pages():
    return gen.news_pages(7, N_PAGES)


@pytest.fixture(scope="module")
def docs():
    return gen.documents(7, N_DOCS)


def _files(tmp_path, name, table, n_files):
    paths = gen.write_files(table, str(tmp_path / name), n_files)
    return [pathlib.Path(p).read_bytes() for p in paths]


@pytest.mark.parametrize("make,n_files", [
    (lambda s: gen.news_pages(s, 300), 3),
    (lambda s: gen.documents(s, 300), 1),
])
def test_same_seed_gives_byte_identical_tables(tmp_path, make, n_files):
    a = _files(tmp_path, "a", make(11), n_files)
    b = _files(tmp_path, "b", make(11), n_files)
    c = _files(tmp_path, "c", make(12), n_files)
    assert a == b
    assert a != c


def test_schemas(pages, docs, tmp_path):
    assert pages.schema == gen.PAGES_SCHEMA
    assert docs.schema == gen.DOCUMENTS_SCHEMA
    (path,) = gen.write_files(docs, str(tmp_path / "d"), 1)
    assert pq.read_table(path).num_rows == N_DOCS


def _near(count, n, share, rel=0.2):
    return abs(count / n - share) <= rel * share


def test_page_shares(pages):
    htmls = pages.column("html").to_pylist()
    assert len(set(pages.column("url").to_pylist())) == N_PAGES
    present = [h for h in htmls if h is not None]
    assert len(present) == len(set(present))  # every payload is unique
    assert _near(N_PAGES - len(present), N_PAGES, gen.NULL_HTML_SHARE)
    ld = sum(b"application/ld+json" in h for h in present)
    assert _near(ld, N_PAGES, gen.LDJSON_SHARE)
    tm = sum(b"<time datetime=" in h for h in present)
    assert _near(tm, N_PAGES, gen.TIME_SHARE)

    def invalid(h):
        try:
            h.decode("utf-8")
        except UnicodeDecodeError:
            return True
        return False

    bad = sum(invalid(h) for h in present)
    assert _near(bad, N_PAGES, gen.INVALID_UTF8_SHARE, rel=0.3)
    huge = [len(h) for h in present if len(h) >= 1 << 20]
    assert _near(len(huge), N_PAGES, gen.HUGE_SHARE, rel=0.5)
    assert min(huge) >= 1_400_000  # the multi-MB tail
    nested = sum(b"<div>" * 400 in h for h in present)
    assert _near(nested, N_PAGES, gen.NESTED_SHARE, rel=0.5)
    zh = sum(lang == "zh" for lang in pages.column("lang").to_pylist())
    assert _near(zh, N_PAGES, gen.CJK_SHARE)


def test_page_sizes_follow_the_golden_range_with_a_tail(pages):
    sizes = sorted(len(h) for h in pages.column("html").to_pylist() if h)
    ordinary = [n for n in sizes if n < 1 << 20]
    # within a few percent of the 14-82 KB range, about 47 KB on average
    assert min(ordinary) >= gen.PAGE_BYTES_MIN
    assert max(ordinary) <= 1.1 * gen.PAGE_BYTES_MAX
    assert 40_000 < sum(ordinary) / len(ordinary) < 55_000
    # spread out, not one size
    p10, p90 = ordinary[len(ordinary) // 10], ordinary[len(ordinary) * 9 // 10]
    assert p90 > 1.6 * p10
    # the multi-MB pages are long reads: hundreds of paragraphs
    for h in pages.column("html").to_pylist():
        if h and len(h) >= 1 << 20:
            assert h.count(b"<p>") >= 600


def test_document_shares(docs):
    texts = docs.column("text").to_pylist()
    langs = docs.column("lang").to_pylist()
    assert set(langs) == set(gen.DOC_LANGS)
    exact = len(texts) - len(set(texts))
    assert _near(exact, N_DOCS, gen.DOC_EXACT_DUP_SHARE, rel=0.1)
    # near duplicates: same token count as an earlier distinct text and
    # at least 90% of positions equal
    by_len, near, seen = {}, 0, set()
    for t in texts:
        toks = t.split(" ")
        if t not in seen:
            for other in by_len.get(len(toks), []):
                same = sum(a == b for a, b in zip(toks, other))
                if same >= 0.9 * len(toks):
                    near += 1
                    break
            by_len.setdefault(len(toks), []).append(toks)
        seen.add(t)
    assert _near(near, N_DOCS, gen.DOC_NEAR_DUP_SHARE, rel=0.15)
    assert docs.column("n_chars").to_pylist() == [len(t) for t in texts]
