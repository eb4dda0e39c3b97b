"""Seeded input generators for the benchmark workloads.

Every page is built so that ``extract(strip="density")`` must return a text
the generator knows in advance: the main content is the only thing outside
the regions the density strip drops (head, header/nav, aside, footer).
The generators are a pure function of ``(workload, seed, size)``; they live
here rather than in ``fortissimo_spark.pages`` so that an edit to the
product's own fixture generator cannot silently change the benchmark input.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import random
from dataclasses import dataclass, field

_WORDS = (
    "batch part spark line column order small sort value scan hash slow "
    "group fast agg filter query a big key window row table stream merge "
    "data the vector customer join index page crawl parse token shard "
    "node tree text block lane cache").split()
# latin-1 encodable, so an ISO-8859-1 page can carry them
_LATIN_WORDS = ("café", "naïve", "über", "façade", "mañana", "crème",
                "São", "Zürich", "résumé", "fiancée")
# cp1252-only characters (not latin-1): they make windows-1252 bytes differ
# from a latin-1 decode
_CP1252_WORDS = ("€uro", "it’s", "“quoted”", "dash–line", "Œuvre")
_ESCAPED_WORDS = ("AT&T", "x<y", "a>b")
_LANGS = ("en",) * 8 + ("de", "fr", "es", "zh")

_N_HOSTS = 64
_HOSTS = tuple(f"host{i:02d}.example.{('com', 'org', 'net', 'io')[i % 4]}"
               for i in range(_N_HOSTS))
# Zipf(s=1.2) host popularity: host00 takes ~25% of pages
_HOST_CUM = []
_acc = 0.0
for _r in range(1, _N_HOSTS + 1):
    _acc += 1.0 / _r ** 1.2
    _HOST_CUM.append(_acc)
del _acc, _r

_EPOCH = dt.datetime(2025, 3, 1, tzinfo=dt.timezone.utc)
_WINDOW_S = 14 * 86400

WORKLOAD_NAMES = ("crawl_extract", "crawl_job_write", "messy_long_pages")


@dataclass
class Corpus:
    """Generated pages plus what a correct run must output for them."""

    urls: list = field(default_factory=list)
    warc_ts: list = field(default_factory=list)
    html: list = field(default_factory=list)
    lang: list = field(default_factory=list)
    # url -> (warc_ts of the winning crawl, expected extracted text)
    expected: dict = field(default_factory=dict)
    non_utf8: int = 0
    late_meta: int = 0
    entity_pages: int = 0

    def add(self, url, ts, raw, lang):
        self.urls.append(url)
        self.warc_ts.append(ts)
        self.html.append(raw)
        self.lang.append(lang)

    def fingerprint(self) -> dict:
        """Digest and shape of the generated bytes (same seed -> same value)."""
        h = hashlib.sha256()
        for url, ts, raw, lang in zip(self.urls, self.warc_ts, self.html,
                                      self.lang):
            h.update(f"{url}\0{ts.isoformat()}\0{lang}\0".encode())
            h.update(raw)
            h.update(b"\n")
        rows = len(self.urls)
        html_bytes = sum(map(len, self.html))
        urls = len(self.expected)
        return {
            "digest": h.hexdigest(),
            "rows": rows,
            "docs": urls,
            "html_bytes": html_bytes,
            "mean_page_bytes": round(html_bytes / rows, 1),
            "non_utf8_share": round(self.non_utf8 / rows, 4),
            "late_meta_share": round(self.late_meta / rows, 4),
            "entity_share": round(self.entity_pages / rows, 4),
            "second_crawl_share": round((rows - urls) / urls, 4),
        }


def _esc(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _paragraph(rng: random.Random, n_min: int, n_max: int,
               extra: tuple = ()) -> str:
    words = [rng.choice(_WORDS) for _ in range(rng.randint(n_min, n_max))]
    for w in extra:
        words.insert(rng.randrange(len(words) + 1), w)
    if rng.random() < 0.05:
        words.insert(rng.randrange(len(words) + 1), rng.choice(_ESCAPED_WORDS))
    return " ".join(words)


def _entity_encode(para: str) -> str:
    """First space -> decimal reference, second -> hex, non-ASCII -> decimal."""
    s = _esc(para).replace(" ", "&#32;", 1).replace(" ", "&#x20;", 1)
    return "".join(c if ord(c) < 128 else f"&#{ord(c)};" for c in s)


def _links(rng: random.Random, n: int, quirky: bool = False) -> str:
    out = []
    for _ in range(n):
        t = rng.randrange(10 ** 6)
        if quirky and rng.random() < 0.5:
            # quote-adjacent attributes: the second attribute starts right
            # after the first value's closing quote
            if rng.random() < 0.5:
                out.append(f'<li><a href="/a/{t}"class="nav">item {t}</a>')
            else:
                out.append(f"<li><a href='/a/{t}'title='t{t}'>item {t}</a>")
        else:
            out.append(f'<li><a href="/a/{t}">related item {t}</a></li>')
    return "\n      ".join(out)


def _page(rng: random.Random, doc_id: int, paragraphs: list, lang: str, *,
          charset: str, head_meta: bool, entity: bool, messy: bool) -> str:
    main = "\n    ".join(
        f"<p>{_entity_encode(p) if entity else _esc(p)}</p>"
        for p in paragraphs)
    meta = f'<meta charset="{charset}">'
    head_pad = ""
    if messy:
        # a large inline style block pushes a late <meta> past byte 2048
        head_pad = "<style>\n" + "\n".join(
            f"  .c{i} {{ margin: {i}px; color: #{rng.randrange(16**6):06x}; }}"
            for i in range(70)) + "\n</style>\n"
    title = f"  <title>{_esc(paragraphs[0][:40])}</title>\n"
    head = (f"  {meta}\n{title}{head_pad}" if head_meta
            else f"{title}{head_pad}  {meta}\n")
    chrome = ""
    if messy:
        chrome = _messy_chrome(rng, doc_id)
    elif doc_id % 11 == 3:
        chrome = "<aside><p>score &ampruns &lt &#77,&#88; ·¶· Mañana</p></aside>"
    elif doc_id % 11 == 7:
        chrome = ("<aside><table><caption>A Table<th>x<tbody><tr><td>1<td>2"
                  "</table></aside>")
    return f"""<!DOCTYPE html>
<html lang="{lang}">
<head>
{head}  <style>
    body {{ margin: 0; font: 16px/1.4 sans-serif; }}
    nav a {{ color: #06c; }}
  </style>
  <script>
    window.pageId = {doc_id}; // '</div> not a tag <script>'
  </script>
</head>
<body>
  <header>
    <h1>Portal {doc_id % 97}</h1>
    <nav>
      <ul>
      {_links(rng, 40 if messy else 6, quirky=messy)}
      </ul>
    </nav>
  </header>
  <main>
    {main}
  </main>
  {chrome}
  <aside>
    <ul>
      {_links(rng, 5)}
    </ul>
  </aside>
  <footer>
    <p>© example {2020 + doc_id % 6} · <a href="/about">about</a> ·
    <a href="/privacy">privacy</a></p>
  </footer>
</body>
</html>
"""


_ENTITY_STORM = ("&amp;&lt;&gt;&quot;&#169;&copy;&eacute;&#x20AC;&nbsp;"
                 "&bogus;&amp &ampx &#0; &#xD800; &#1114112; &notit; ")


def _messy_chrome(rng: random.Random, doc_id: int) -> str:
    """Tag soup confined to aside/footer, so the main text stays exact."""
    rows = "".join(
        f"<tr><td>{rng.randrange(999)}<td>{rng.choice(_WORDS)}"
        f"<td class=x id=r{r}>{rng.choice(_WORDS)}" for r in range(40))
    return f"""<aside class="related"data-id="{doc_id}">
    <ul><li>one<li>two<li><b>bold <i>both</b> italic</i><li>three</ul>
    <table>stray text<tr><td>1<td>2</tr><td>orphan cell
      <tbody>{rows}</table>
    <p><b><i><u>nested<p>misnested</b> tail</u></i>
    <div><span><b>open formatting</span> after</div>
  </aside>
  <aside>{_ENTITY_STORM * 24}</aside>
  <footer><table><tr><td>a<td>b<tr><td>c</table>
    <p title='x'class='y'>{_ENTITY_STORM * 12}</p></footer>"""


def _host(rng: random.Random) -> str:
    return rng.choices(_HOSTS, cum_weights=_HOST_CUM)[0]


def crawl_corpus(seed: int, n_docs: int) -> Corpus:
    """Common-Crawl-style pages, ~1.6 KB each.

    ~10% of urls have a second crawl with different text; the later crawl
    wins. ~1% are ISO-8859-1 with an early ``<meta charset>``; 20% encode
    spaces and non-ASCII characters as character references.
    """
    rng = random.Random(seed * 2 + 1)
    offset = rng.randrange(10 ** 9)
    c = Corpus()
    rows = []
    for i in range(n_docs):
        doc_id = offset + i
        url = f"https://{_host(rng)}/article/{doc_id:010d}"
        lang = rng.choice(_LANGS)
        latin = rng.random() < 0.01
        entity = rng.random() < 0.2
        crawls = 2 if rng.random() < 0.1 else 1
        best = None
        for _ in range(crawls):
            ts = _EPOCH + dt.timedelta(seconds=rng.randrange(_WINDOW_S))
            while best is not None and ts == best[0]:  # no tie for the winner
                ts = _EPOCH + dt.timedelta(seconds=rng.randrange(_WINDOW_S))
            extra = (rng.choice(_LATIN_WORDS),) if latin or rng.random() < 0.1 else ()
            paras = [_paragraph(rng, 10, 60, extra if p == 0 else ())
                     for p in range(rng.choice((1, 1, 2, 3)))]
            html = _page(rng, doc_id, paras, lang,
                         charset="ISO-8859-1" if latin else "utf-8",
                         head_meta=True, entity=entity, messy=False)
            raw = html.encode("latin-1" if latin else "utf-8")
            rows.append((url, ts, raw, lang))
            c.non_utf8 += latin
            c.entity_pages += entity
            if best is None or ts > best[0]:
                best = (ts, "\n\n".join(paras))
        c.expected[url] = best
    rng.shuffle(rows)
    for row in rows:
        c.add(*row)
    return c


def messy_corpus(seed: int, n_pages: int) -> Corpus:
    """~19 KB tag-soup pages whose ``<main>`` holds ~20 documents' paragraphs.

    About half are windows-1252 bytes whose only ``<meta charset>`` sits past
    byte 2048, which forces the decode -> parse -> re-decode -> re-parse path.
    """
    rng = random.Random(seed * 2 + 2)
    offset = rng.randrange(10 ** 9)
    c = Corpus()
    for i in range(n_pages):
        doc_id = offset + i
        url = f"https://{_host(rng)}/thread/{doc_id:010d}"
        lang = rng.choice(_LANGS)
        cp1252 = rng.random() < 0.5
        entity = rng.random() < 0.2
        ts = _EPOCH + dt.timedelta(seconds=rng.randrange(_WINDOW_S))
        paras = []
        for _ in range(rng.randint(17, 23)):
            extra = (rng.choice(_CP1252_WORDS if cp1252 and rng.random() < 0.5
                                else _LATIN_WORDS),)
            paras.append(_paragraph(rng, 10, 110, extra))
        html = _page(rng, doc_id, paras, lang,
                     charset="windows-1252" if cp1252 else "utf-8",
                     head_meta=not cp1252, entity=entity, messy=True)
        raw = html.encode("cp1252" if cp1252 else "utf-8")
        if cp1252 and raw.find(b"<meta charset") <= 2048:
            raise AssertionError("late <meta charset> must sit past byte 2048")
        c.add(url, ts, raw, lang)
        c.non_utf8 += cp1252
        c.late_meta += cp1252
        c.entity_pages += entity
        c.expected[url] = (ts, "\n\n".join(paras))
    return c


def generate(workload: str, seed: int, scale: float = 1.0) -> Corpus:
    """The input of one workload; ``scale`` shrinks it for the self-test."""
    if workload == "crawl_extract":
        return crawl_corpus(seed, max(8, int(10000 * scale)))
    if workload == "crawl_job_write":
        # the same kind of pages, half as many urls: a job pass costs about
        # 3x a crawl_extract pass, mostly per written file, not per row
        return crawl_corpus(seed, max(8, int(5000 * scale)))
    if workload == "messy_long_pages":
        return messy_corpus(seed, max(4, int(600 * scale)))
    raise ValueError(f"unknown workload {workload!r}")


def check_output(expected: dict, rows: list) -> dict:
    """Compare output ``(url, warc_ts epoch micros, text)`` rows with what
    the generator recorded: one row per url, the latest crawl, exact text."""
    seen = set()
    exact = 0
    bad = []
    for url, ts_us, text in rows:
        want = expected.get(url)
        if want is None or url in seen:
            bad.append((url, "unexpected or duplicate url"))
        elif ts_us != _micros(want[0]):
            bad.append((url, "an older crawl won"))
        elif text != want[1]:
            bad.append((url, "text differs"))
        else:
            exact += 1
        seen.add(url)
    bad.extend((url, "missing") for url in expected if url not in seen)
    return {"rows": len(rows), "exact": exact, "mismatches": len(bad),
            "first_offending": bad[:5]}


def _micros(ts: dt.datetime) -> int:
    return (ts - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) \
        // dt.timedelta(microseconds=1)
