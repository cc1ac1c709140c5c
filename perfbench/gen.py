"""Seeded input generator for the KG-construction benchmark.

Every workload is a pages table in the ``input_hint`` shape
``(url, warc_ts, html, text, lang)`` written as parquet before any timing
starts; the program under test reads only that table.  Alongside it the
generator keeps the ground truth: the exact triples each page must yield
(blank nodes carry generator labels ``_:g<k>``, scoped to their page),
the entity each page must link to, and the input descriptors that go into
every result record.

Two page families:

- *templated*: the ``sources.pages.pages_from_documents`` template shape,
  7 triples per page, Zipf-skewed ``schema:isPartOf`` sources, ~0.9 KB.
  Start tags repeat across pages, so the tokenizer's tag cache hits.
- *diverse*: 10-200 KB pages (log-normal, ~20 KB median) built from
  blocks with known triples: typed entities, blank-node chains, ``inlist``
  lists, ``rdfa:copy`` patterns, XMLLiterals and attribute-heavy filler.
  Attribute values are drawn per tag, so the tag cache mostly misses.  A
  recorded share of pages nests 1k-4k ``<div>`` levels deep (quadratic text
  propagation) and a recorded share carries cyclic ``rdfa:copy`` patterns
  that the kernel must reject (expected output: no triples).

Every page, both families, opens with the same ``schema:Article`` header
block, so the SPARQL mix runs unchanged on any workload's graph.  A seeded
``SITE_SHARE`` of the pages follows it with a site block: two statements
about the page's source (its type and publisher) that every such page of
that source repeats, so the graph build has triples to merge across pages.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
import os
import random
from collections import Counter
from dataclasses import dataclass, field
from statistics import NormalDist

import pyarrow as pa
import pyarrow.parquet as pq

SCHEMA = "http://schema.org/"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
XSD = "http://www.w3.org/2001/XMLSchema#"
RDF_TYPE = RDF + "type"
PAGE_PREFIX = "http://bench.example.org/page/"
SOURCE_PREFIX = "http://corpus.example.org/source/"
VOCAB_PREFIX = "http://vocab.example.org/"
PUBLISHER_PREFIX = "http://corpus.example.org/publisher/"

LANGS = ("en", "de", "fr", "es", "it")
LANG_WEIGHTS = (0.5, 0.2, 0.15, 0.1, 0.05)
N_SOURCES = 300
ZIPF_S = 1.1
# Entity dictionary the build phase links against (kept in the text).
ENTITY_NAMES = ("spark", "join", "hash", "window", "stream", "vector",
                "query", "table", "shuffle", "batch")
DEEP_DEPTHS = (1000, 2000, 4000)
SITE_SHARE = 0.4  # pages that repeat their source's site statements
N_PUBLISHERS = 20
PAGE_FILES = 4  # a pages table is written as this many parquet files

TRIPLE_COLS = ("url", "subj", "subj_kind", "pred", "obj_value", "obj_kind",
               "obj_datatype", "obj_lang")
PAGES_SCHEMA = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us", tz="UTC")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])
TRIPLES_SCHEMA = pa.schema([(c, pa.string()) for c in TRIPLE_COLS])
_EPOCH = dt.datetime(2024, 1, 1)


def _vocab() -> list[str]:
    """Fixed 3000-word vocabulary (independent of the seed)."""
    rng = random.Random(1234)
    cons, vows = "bcdfghjklmnprstvwz", "aeiou"
    words = set(ENTITY_NAMES)
    while len(words) < 3000:
        n = rng.randint(1, 3)
        words.add("".join(rng.choice(cons) + rng.choice(vows)
                          for _ in range(n)) + rng.choice(cons))
    return sorted(words)


VOCAB = _vocab()


@dataclass
class Page:
    url: str
    ts: dt.datetime
    html: str
    text: str
    lang: str
    triples: list[tuple]  # (subj, subj_kind, pred, obj, obj_kind, dt, lang)
    entity: str | None    # expected best_entity_per_doc name, if any
    kind: str = "plain"   # plain | deep | adversarial
    depth: int = 0        # nesting depth of a deep page
    start_tags: list[str] = field(default_factory=list)


def _header(rng: random.Random, url: str, lang: str, n_words: int,
            source: str, day: int):
    """The ``schema:Article`` block, in the pages_from_documents shape."""
    words = [rng.choice(VOCAB) for _ in range(n_words)]
    name = " ".join(words[:8])
    text = " ".join(words)
    date = f"2024-03-{day:02d}"
    subj = url + "#it"
    tags = [f'<html lang="{lang}">', '<body prefix="schema: '
            'http://schema.org/">',
            '<div about="#it" typeof="schema:Article">',
            '<h1 property="schema:name">', '<span property="schema:text">',
            f'<meta property="schema:inLanguage" content="{lang}"/>',
            f'<span property="schema:wordCount" content="{n_words}" '
            'datatype="xsd:integer">',
            f'<a rel="schema:isPartOf" href="{SOURCE_PREFIX}{source}">',
            f'<time property="schema:dateCreated" datetime="{date}">']
    body = (f'<div about="#it" typeof="schema:Article">'
            f'<h1 property="schema:name">{name}</h1>'
            f'<span property="schema:text">{text}</span>'
            f'<meta property="schema:inLanguage" content="{lang}"/>'
            f'<span property="schema:wordCount" content="{n_words}" '
            f'datatype="xsd:integer"></span>'
            f'<a rel="schema:isPartOf" href="{SOURCE_PREFIX}{source}">'
            f'{source}</a><time property="schema:dateCreated" '
            f'datetime="{date}"></time></div>')
    triples = [
        (subj, "iri", RDF_TYPE, SCHEMA + "Article", "iri", None, None),
        (subj, "iri", SCHEMA + "name", name, "literal", None, lang),
        (subj, "iri", SCHEMA + "text", text, "literal", None, lang),
        (subj, "iri", SCHEMA + "inLanguage", lang, "literal", None, lang),
        (subj, "iri", SCHEMA + "wordCount", str(n_words), "literal",
         XSD + "integer", None),
        (subj, "iri", SCHEMA + "isPartOf", SOURCE_PREFIX + source, "iri",
         None, None),
        (subj, "iri", SCHEMA + "dateCreated", date, "literal", XSD + "date",
         None),
    ]
    return name, words, body, tags, triples


def _site(rng: random.Random, source: str):
    """The site block of a ``SITE_SHARE`` of the pages: statements about
    the source, identical on every page of that source that has one."""
    if rng.random() >= SITE_SHARE:
        return "", [], []
    site = SOURCE_PREFIX + source
    pub = f"{PUBLISHER_PREFIX}p{int(source[3:]) % N_PUBLISHERS}"
    tags = [f'<div about="{site}" typeof="schema:WebSite">',
            f'<a rel="schema:publisher" href="{pub}">']
    triples = [(site, "iri", RDF_TYPE, SCHEMA + "WebSite", "iri", None, None),
               (site, "iri", SCHEMA + "publisher", pub, "iri", None, None)]
    return tags[0] + tags[1] + "</a></div>", tags, triples


def _best_entity(words: list[str]) -> str | None:
    """Expected ``best_entity_per_doc`` over ``text.split(' ')``: most
    mentions, ties to the lexicographically smallest name."""
    counts: dict[str, int] = {}
    for w in words:
        if w in ENTITY_NAMES:
            counts[w] = counts.get(w, 0) + 1
    if not counts:
        return None
    return min(counts, key=lambda n: (-counts[n], n))


class _Picker:
    """Seeded weighted choice over a fixed population."""

    def __init__(self, population, weights):
        self.population = list(population)
        total, acc = float(sum(weights)), 0.0
        self.cum = []
        for w in weights:
            acc += w / total
            self.cum.append(acc)

    def __call__(self, rng: random.Random):
        i = bisect.bisect_left(self.cum, rng.random())
        return self.population[min(i, len(self.population) - 1)]


_SOURCES = _Picker([f"src{r}" for r in range(1, N_SOURCES + 1)],
                   [1.0 / r ** ZIPF_S for r in range(1, N_SOURCES + 1)])
_LANG = _Picker(LANGS, LANG_WEIGHTS)


def templated_page(rng: random.Random, i: int, version: int = 0) -> Page:
    """One ~0.9 KB page in the ``pages_from_documents`` template shape."""
    url = f"{PAGE_PREFIX}{i}"
    lang = _LANG(rng)
    source = _SOURCES(rng)
    n_words = rng.randint(30, 120)
    name, words, body, tags, triples = _header(
        rng, url, lang, n_words, source, i % 28 + 1)
    site, site_tags, site_triples = _site(rng, source)
    html = (f'<!DOCTYPE html><html lang="{lang}"><head><title>{name}'
            '</title></head><body prefix="schema: http://schema.org/">'
            + body + site + '</body></html>')
    # extracted text: property literals are consumed, so only the title
    # and the isPartOf anchor text survive (see sources/pages.py)
    text = name + source
    return Page(url, _EPOCH + dt.timedelta(seconds=i, days=version), html,
                text, lang, triples + site_triples,
                _best_entity(text.split(" ")), start_tags=tags + site_tags)


# -- diverse pages ----------------------------------------------------------

def _rid(rng: random.Random) -> str:
    return f"{rng.getrandbits(40):010x}"


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


class _Diverse:
    """Builds one diverse page block by block, tracking its triples."""

    def __init__(self, rng: random.Random, url: str, lang: str):
        self.rng, self.url, self.lang = rng, url, lang
        self.vocab = f"{VOCAB_PREFIX}v{rng.randint(0, 49)}/"
        self.parts: list[str] = []
        self.tags: list[str] = []
        self.triples: list[tuple] = []
        self.size = 0
        self.n_bnodes = 0
        self.n_blocks = 0

    def emit(self, s: str) -> None:
        self.parts.append(s)
        self.size += len(s)

    def tag(self, name: str, attrs: str) -> str:
        t = f"<{name} {attrs}>"
        self.tags.append(t)
        return t

    def attrs(self) -> str:
        r = self.rng
        return (f'id="n{_rid(r)}" class="c{r.randint(0, 9999)} '
                f'k{r.randint(0, 9999)}" data-x="{_rid(r)}"')

    def bnode(self) -> str:
        self.n_bnodes += 1
        return f"_:g{self.n_bnodes}"

    def add(self, s, sk, p, o, ok, odt=None, olang=None):
        self.triples.append((s, sk, p, o, ok, odt, olang))

    def entity(self):
        r, j = self.rng, self.n_blocks
        subj = f"{self.url}#e{j}"
        cls = f"T{r.randint(0, 499)}"
        self.emit(self.tag("section", f'{self.attrs()} about="#e{j}" '
                           f'typeof="ex:{cls}"'))
        self.add(subj, "iri", RDF_TYPE, self.vocab + cls, "iri")
        for _ in range(r.randint(3, 12)):
            p = f"p{r.randint(0, 4999)}"
            v = _words(r, 1, 6)
            self.emit(self.tag("p", f'{self.attrs()} property="ex:{p}"')
                      + v + "</p>")
            self.add(subj, "iri", self.vocab + p, v, "literal", None,
                     self.lang)
        self.emit("</section>")

    def chain(self):
        r, j = self.rng, self.n_blocks
        subj = f"{self.url}#h{j}"
        rel = f"rel{r.randint(0, 999)}"
        self.emit(self.tag("div", f'{self.attrs()} about="#h{j}" '
                           f'rel="ex:{rel}"'))
        for _ in range(r.randint(1, 4)):
            b = self.bnode()
            cls = f"B{r.randint(0, 99)}"
            self.emit(self.tag("div", f'{self.attrs()} typeof="ex:{cls}"'))
            self.add(b, "bnode", RDF_TYPE, self.vocab + cls, "iri")
            self.add(subj, "iri", self.vocab + rel, b, "bnode")
            for _ in range(r.randint(1, 4)):
                p = f"q{r.randint(0, 999)}"
                v = _words(r, 1, 4)
                self.emit(self.tag("span", f'{self.attrs()} '
                                   f'property="ex:{p}"') + v + "</span>")
                self.add(b, "bnode", self.vocab + p, v, "literal", None,
                         self.lang)
            self.emit("</div>")
        self.emit("</div>")

    def inlist(self):
        r, j = self.rng, self.n_blocks
        subj = f"{self.url}#l{j}"
        p = f"li{r.randint(0, 999)}"
        self.emit(self.tag("ul", f'{self.attrs()} about="#l{j}"'))
        items = [_words(r, 1, 3) for _ in range(r.randint(1, 6))]
        cells = [self.bnode() for _ in items]
        for k, v in enumerate(items):
            self.emit(self.tag("li", f'{self.attrs()} property="ex:{p}" '
                               'inlist=""') + v + "</li>")
            self.add(cells[k], "bnode", RDF + "first", v, "literal", None,
                     self.lang)
            if k + 1 < len(cells):
                self.add(cells[k], "bnode", RDF + "rest", cells[k + 1],
                         "bnode")
            else:
                self.add(cells[k], "bnode", RDF + "rest", RDF + "nil",
                         "iri")
        self.add(subj, "iri", self.vocab + p, cells[0], "bnode")
        self.emit("</ul>")

    def copy(self):
        r, j = self.rng, self.n_blocks
        subj = f"{self.url}#c{j}"
        link = f'<link property="rdfa:copy" href="#pat{j}"/>'
        self.tags.append(link)
        self.emit(self.tag("div", f'{self.attrs()} about="#c{j}"') + link
                  + "</div>")
        self.emit(self.tag("div", f'{self.attrs()} resource="#pat{j}" '
                           'typeof="rdfa:Pattern"'))
        for _ in range(r.randint(1, 5)):
            p = f"pp{r.randint(0, 999)}"
            v = _words(r, 1, 4)
            self.emit(self.tag("span", f'{self.attrs()} property="ex:{p}"')
                      + v + "</span>")
            self.add(subj, "iri", self.vocab + p, v, "literal", None,
                     self.lang)
        self.emit("</div>")

    def xmlliteral(self):
        r, j = self.rng, self.n_blocks
        subj = f"{self.url}#x{j}"
        p = f"xml{r.randint(0, 99)}"
        a, b, c = _words(r, 1, 3), _words(r, 1, 2), _words(r, 1, 3)
        self.emit(self.tag("span", f'{self.attrs()} about="#x{j}" '
                           f'property="ex:{p}" datatype="rdf:XMLLiteral"')
                  + f"{a} <b>{b}</b> {c}</span>")
        self.tags.append("<b>")
        # XMLLiteral serialization declares the in-scope prefixes on each
        # top-level element, in name order
        value = (f'{a} <b xmlns:ex="{self.vocab}" xmlns:schema="{SCHEMA}">'
                 f'{b}</b> {c}')
        self.add(subj, "iri", self.vocab + p, value, "literal",
                 RDF + "XMLLiteral", None)

    def filler(self):
        """Markup without RDFa: paragraphs with inline links and emphasis."""
        r = self.rng
        self.emit(self.tag("div", self.attrs()))
        for _ in range(r.randint(2, 4)):
            self.emit(self.tag("p", self.attrs()) + _words(r, 5, 15) + " "
                      + self.tag("a", f'href="/n{_rid(r)}" {self.attrs()}')
                      + _words(r, 1, 4) + "</a> " + _words(r, 5, 15)
                      + " <em>" + _words(r, 1, 3) + "</em></p>")
            self.tags.append("<em>")
        self.emit("</div>")


_BLOCKS = _Picker(("entity", "chain", "inlist", "copy", "xmlliteral",
                   "filler"), (0.25, 0.10, 0.07, 0.07, 0.03, 0.48))


def diverse_page(rng: random.Random, i: int, target: int,
                 kind: str = "plain", depth: int = 0,
                 version: int = 0) -> Page:
    """One page of about ``target`` bytes (see module doc); ``depth`` is
    the nesting of a ``deep`` page."""
    url = f"{PAGE_PREFIX}{i}"
    lang = _LANG(rng)
    source = _SOURCES(rng)
    name, words, header, tags, triples = _header(
        rng, url, lang, rng.randint(60, 140), source, i % 28 + 1)
    site, site_tags, site_triples = _site(rng, source)
    d = _Diverse(rng, url, lang)
    d.tags.extend(tags + site_tags)
    d.triples.extend(triples + site_triples)
    d.emit(header + site)
    if kind == "deep":
        p = f"deep{rng.randint(0, 99)}"
        d.emit(f'<div about="#deep">' + "<div>" * depth
               + f'<span property="ex:{p}">{lang}</span>'
               + "</div>" * depth + "</div>")
        d.tags.append('<div about="#deep">')
        d.add(url + "#deep", "iri", d.vocab + p, lang, "literal", None,
              lang)
    while d.size < target:
        getattr(d, _BLOCKS(rng))()
        d.n_blocks += 1
    if kind == "adversarial":
        # mutually-cyclic rdfa:copy patterns: the kernel must reject the
        # page (quarantine) instead of stalling; nothing may come out
        d.emit('<div resource="#cycA" typeof="rdfa:Pattern">'
               '<link property="rdfa:copy" href="#cycB"/></div>'
               '<div resource="#cycB" typeof="rdfa:Pattern">'
               '<link property="rdfa:copy" href="#cycA"/></div>'
               '<div about="#victim"><link property="rdfa:copy" '
               'href="#cycA"/></div>')
        d.triples = []
    html = ('<!DOCTYPE html><html lang="' + lang + '"><head><title>' + name
            + '</title></head><body prefix="schema: http://schema.org/ ex: '
            + d.vocab + '">' + "".join(d.parts) + '</body></html>')
    text = " ".join(words)
    return Page(url, _EPOCH + dt.timedelta(seconds=i, days=version), html,
                text, lang, d.triples, _best_entity(words), kind, depth,
                start_tags=d.tags)


# -- corpora ------------------------------------------------------------------

@dataclass
class Corpus:
    family: str
    pages: list[Page]

    def descriptors(self) -> dict:
        n = len(self.pages)
        seen: set[str] = set()
        reused = total = 0
        for p in self.pages:
            for t in p.start_tags:
                total += 1
                if t in seen:
                    reused += 1
                else:
                    seen.add(t)
        n_bytes = sum(len(p.html.encode()) for p in self.pages)
        # triples (blank nodes aside) that also occur on another page
        keys = Counter(t for p in self.pages for t in set(p.triples)
                       if t[1] != "bnode" and t[4] != "bnode")
        n_triples = sum(len(p.triples) for p in self.pages)
        return {
            "input.pages": n,
            "input.mb": n_bytes / 1e6,
            "input.tag_reuse_ratio": reused / max(total, 1),
            "input.expected_triples": n_triples,
            "input.shared_triple_share":
                sum(c for c in keys.values() if c > 1) / max(n_triples, 1),
            "input.deep_nesting_share":
                sum(p.kind == "deep" for p in self.pages) / n,
            "input.adversarial_share":
                sum(p.kind == "adversarial" for p in self.pages) / n,
        }


def templated_corpus(seed: int, n_pages: int) -> Corpus:
    rng = random.Random(f"templated/{seed}")
    return Corpus("templated",
                  [templated_page(rng, i) for i in range(n_pages)])


def page_sizes(n_pages: int) -> list[int]:
    """Log-normal page sizes (median 20 KB, clipped to 10-200 KB), taken
    at evenly spaced quantiles, so the size mix is fixed by ``n_pages``."""
    dist = NormalDist(math.log(20_000), 0.6)
    return [int(min(200_000, max(10_000,
                                 math.exp(dist.inv_cdf((k + 0.5) / n_pages)))))
            for k in range(n_pages)]


def diverse_corpus(seed: int, n_pages: int, deep_share: float,
                   adversarial_share: float) -> Corpus:
    """``deep_share`` / ``adversarial_share`` of the pages (at least one
    each) are nested / cyclic.  The corpus is ``PAGE_FILES`` blocks of
    consecutive pages, one per pages file, each with the same size mix and
    an even share of the deep pages (which take the depths of
    ``DEEP_DEPTHS`` in turn); the seed decides the order inside each block
    and everything on the pages."""
    rng = random.Random(f"diverse/{seed}")
    blocks = PAGE_FILES
    per = n_pages // blocks
    n_deep = max(1, round(n_pages * deep_share))
    n_adv = max(1, round(n_pages * adversarial_share))
    sizes, kinds, depths = [], {}, {}
    for b in range(blocks):
        block = page_sizes(per if b < blocks - 1 else n_pages - b * per)
        rng.shuffle(block)
        sizes.extend(block)
    for k in range(n_deep):
        b = k % blocks
        i = b * per + rng.randrange(per)
        while i in kinds:
            i = b * per + rng.randrange(per)
        kinds[i] = "deep"
        depths[i] = DEEP_DEPTHS[k % len(DEEP_DEPTHS)]
    for i in rng.sample([i for i in range(n_pages) if i not in kinds], n_adv):
        kinds[i] = "adversarial"
    return Corpus("diverse", [
        diverse_page(rng, i, sizes[i], kinds.get(i, "plain"),
                     depths.get(i, 0)) for i in range(n_pages)])


def recrawl_delta(corpus: Corpus, seed: int, round_no: int,
                  share: float) -> list[Page]:
    """A seeded ``share`` of the corpus, recrawled with changed content
    and a later crawl timestamp.  Adversarial pages are not recrawled."""
    rng = random.Random(f"recrawl/{seed}/{round_no}")
    candidates = [i for i, p in enumerate(corpus.pages)
                  if p.kind != "adversarial"]
    picked = sorted(rng.sample(candidates,
                               max(1, round(len(corpus.pages) * share))))
    make = templated_page if corpus.family == "templated" else diverse_page
    out = []
    for i in picked:
        if make is templated_page:
            out.append(templated_page(rng, i, version=round_no))
        else:  # same size class and nesting as the page it replaces
            old = corpus.pages[i]
            out.append(diverse_page(rng, i, len(old.html), old.kind,
                                    old.depth, version=round_no))
    return out


def write_pages(pages: list[Page], path: str, n_files: int = 1,
                prefix: str = "part") -> None:
    """Write ``pages`` as ``n_files`` parquet files named ``prefix-NNN``
    into the directory ``path``, in page order."""
    os.makedirs(path, exist_ok=True)
    per = -(-len(pages) // n_files)
    for k in range(n_files):
        part = pages[k * per:(k + 1) * per]
        table = pa.table({
            "url": [p.url for p in part],
            "warc_ts": pa.array([p.ts for p in part],
                                pa.timestamp("us", tz="UTC")),
            "html": [p.html.encode() for p in part],
            "text": [p.text for p in part],
            "lang": [p.lang for p in part],
        }, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"{prefix}-{k:03d}.parquet"))


def truth_table(pages: list[Page]) -> pa.Table:
    cols: dict[str, list] = {c: [] for c in TRIPLE_COLS}
    for p in pages:
        for t in p.triples:
            cols["url"].append(p.url)
            for c, v in zip(TRIPLE_COLS[1:], t):
                cols[c].append(v)
    return pa.table(cols, schema=TRIPLES_SCHEMA)
