"""Site-dialect extraction kernels.

Every function here is a direct, from-scratch re-implementation of one
reference scraper's parsing semantics (cited per kernel as
/root/reference path:line). They are pure (str, str, dict) -> ParseResult
functions with no Spark dependency; siren_spark.functions.udfs compiles
the registry into Arrow-batched pandas UDFs dispatched by registrable
domain — no per-row Python at the API layer.

Synthetic-web URL conventions (see siren_spark/testing/sitegen.py):
each dialect lives on its own domain; search/index URLs carry the same
query parameters the reference sends, so page-count arithmetic (F1
off-by-ones included) is reproduced from the page payload + request URL
alone, exactly as the reference derives it from the page-1 response.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from datetime import datetime
from urllib.parse import parse_qs, urlsplit

from siren_spark.htmlmini import parse_html
from siren_spark.urls import join_url, registrable_domain, with_query

# Uniform record schema produced by every kernel (superset union of the
# reference's per-site models, SURVEY.md §1.4 "results").
RECORD_FIELDS = (
    "source",      # dialect name
    "url",         # article url
    "title",
    "author",
    "location",
    "published",   # datetime | None
    "text",        # byte-identity extraction target
    "extra",       # dict[str, str] — site-specific leftovers
)


@dataclass
class Link:
    url: str
    meta: dict[str, str] = field(default_factory=dict)


@dataclass
class ParseResult:
    links: list[Link] = field(default_factory=list)
    records: list[dict] = field(default_factory=list)
    error: str | None = None  # kernel exception -> row dropped but counted


def _qs(url: str) -> dict[str, str]:
    return {k: v[0] for k, v in parse_qs(urlsplit(url).query).items()}


def _iso(raw: str | None) -> datetime | None:
    if not raw:
        return None
    try:
        return datetime.fromisoformat(raw)
    except ValueError:
        return None


def _rec(source: str, url: str, *, title=None, author=None, location=None,
         published=None, text="", extra=None) -> dict:
    return {
        "source": source,
        "url": url,
        "title": title,
        "author": author,
        "location": location,
        "published": published,
        "text": text,
        "extra": extra or {},
    }


# ---------------------------------------------------------------------------
# mirror — Mumbai/Bangalore Mirror (reference siren/scrapers/online/mirror.py)
# ---------------------------------------------------------------------------

# Raw-scan fast path for the article branch: the only thing the kernel
# needs from an article page is the FIRST
# <script type="application/ld+json"> body, so building a full DOM for a
# 20 KB page is ~20x the necessary work. The scan is deliberately
# conservative — any input where a raw string find could disagree with
# the tree walk (exotic attr layout or case, an earlier "ld+json"
# mention, the tag inside a comment or another script/style's CDATA
# text, unclosed script) falls back to the full parse. Equivalence is
# pinned by tests/test_kernels.py::test_ldjson_fast_path_differential.
_LDJSON_OPEN = re.compile(r"<script\s+type=([\"'])application/ld\+json\1\s*>")
_SCRIPT_CLOSE = re.compile(r"</\s*script", re.I)


def _first_ldjson(payload: str) -> str | None:
    """Body of the first ld+json script, or None to use the tree walk."""
    m = _LDJSON_OPEN.search(payload)
    if m is None:
        return None
    head = payload[:m.start()]
    # an earlier 'ld+json' occurrence could be a variant attr layout the
    # regex missed (extra attrs, spaces around '=') that find() WOULD
    # match first — or shift which script is "first"
    if "ld+json" in head:
        return None
    # inside a comment? the parser would not see a node here
    if head.rfind("<!--") > head.rfind("-->"):
        return None
    # inside an earlier script/style's raw CDATA text?
    for opener, close in (("<script", "</script"), ("<style", "</style")):
        if head.rfind(opener) > head.rfind(close):
            return None
    cm = _SCRIPT_CLOSE.search(payload, m.end())
    if cm is None:
        return None          # unclosed: EOF semantics left to the tree
    return payload[m.end():cm.start()]


def mirror_parse(payload: str, url: str, meta: dict) -> ParseResult:
    """mirror.py:64-77 (search page), mirror.py:88-99 (ld+json article).

    Search: anchors inside div.searchcontent after extracting the
    'Pagination clearfix' div; each href joined as BASE/news/<sub.lstrip('/')>
    (mirror.py:80). Article: first <script type="application/ld+json">,
    json.loads(strict=False), author = data.get('author',{}).get('name','-'),
    setdefault thumbnailUrl/headline '-'; required fields missing -> drop
    (pydantic ValidationError path, mirror.py:96-99).
    """
    base = _base_of(url)
    if "/news/" not in url:
        soup = parse_html(payload)
        if clearfix := soup.find("div", class_="Pagination clearfix"):
            clearfix.extract()
        div = soup.find("div", class_="searchcontent")
        links: list[Link] = []
        if div:
            for tag in div.find_all("a"):
                href = str(tag.get("href", ""))
                links.append(
                    Link(join_url(join_url(base, "news"), href.lstrip("/")), dict(meta))
                )
        return ParseResult(links=links)

    raw = _first_ldjson(payload)
    if raw is None:
        soup = parse_html(payload)
        t = soup.find("script", type="application/ld+json")
        raw = t.text if t else "{}"
    try:
        data = json.loads(raw, strict=False)
    except json.JSONDecodeError:
        return ParseResult()
    data["author"] = (data.get("author") or {}).get("name", "-")
    data.setdefault("thumbnailUrl", "-")
    data.setdefault("headline", "-")
    published = _iso(data.get("datePublished"))
    modified = _iso(data.get("dateModified"))
    # pydantic-required fields (mirror.py:24-31): url, thumbnailUrl,
    # datePublished, dateModified, headline, description, author
    if not data.get("url") or not data.get("description") or published is None or modified is None:
        return ParseResult()
    headline = data["headline"]
    description = data["description"]
    return ParseResult(records=[_rec(
        "mirror", data["url"], title=headline, author=data["author"],
        published=published,
        text=f"{headline}\n{description}",
        extra={"thumbnailUrl": data["thumbnailUrl"], "dateModified": str(data.get("dateModified"))},
    )])


# ---------------------------------------------------------------------------
# indiatoday (reference siren/scrapers/online/indiatoday.py)
# ---------------------------------------------------------------------------

def indiatoday_parse(payload: str, url: str, meta: dict) -> ParseResult:
    """indiatoday.py:124-154.

    Search API JSON -> article links at BASE/<canonical_url[1:]>
    (indiatoday.py:107) carrying the content-item metadata forward.
    Article HTML -> body = '\\n'.join(p.text) for <p> inside
    div.Story_description__fq_4S:nth-child(1) (indiatoday.py:108-114).
    Invalid search JSON -> no results (indiatoday.py:141-144).
    """
    base = _base_of(url)
    if "/api/ajax/groupsearchlist" in url:
        try:
            data = json.loads(payload)
            content = data["data"]["content"]
        except (json.JSONDecodeError, KeyError, TypeError):
            return ParseResult()
        links: list[Link] = []
        for item in content:
            cu = item.get("canonical_url")
            if not isinstance(cu, str) or not cu:
                return ParseResult()  # whole-response pydantic failure semantics
            m = dict(meta)
            m.update({
                "title": str(item.get("title_short", "")),
                "desc": str(item.get("description_short", "")),
                "published": str(item.get("datetime_published", "")),
                "author": (item.get("author") or [{}])[0].get("title", "") if item.get("author") else "",
            })
            links.append(Link(join_url(base, cu[1:]), m))
        return ParseResult(links=links)

    soup = parse_html(payload)
    text: list[str] = []
    if story := soup.select_one("div.Story_description__fq_4S:nth-child(1)"):
        for p in story.find_all("p"):
            text.append(p.text)
    body = "\n".join(text)
    return ParseResult(records=[_rec(
        "indiatoday", url,
        title=meta.get("title"), author=meta.get("author") or None,
        published=_iso(meta.get("published")),
        text=body, extra={"desc": meta.get("desc", "")},
    )])


# ---------------------------------------------------------------------------
# newsminute (reference siren/scrapers/online/newsminute.py) — JSON API only
# ---------------------------------------------------------------------------

NM_PAGE_SIZE = 100  # newsminute.py:46


def newsminute_parse(payload: str, url: str, meta: dict) -> ParseResult:
    """newsminute.py:70-96.

    Each response page yields records directly: text = '\\n'.join of every
    cards[].story-elements[].text (newsminute.py:31-35). An {'error': ...}
    response -> empty (newsminute.py:74-75). Page 1 (offset=0) also emits
    follow-up offset pages with the reference's off-by-one: pages =
    (total // 100) - 1, offsets 100*i for i in range(1, pages - 1)
    (newsminute.py:84-86 — the trailing pages are deliberately skipped).
    """
    try:
        data = json.loads(payload)
    except json.JSONDecodeError:
        return ParseResult()
    if data.get("error"):
        return ParseResult()
    items = data.get("items", [])
    records: list[dict] = []
    for it in items:
        try:
            txt = "\n".join(
                story.get("text", "")
                for card in it["cards"]
                for story in card["story-elements"]
            )
            rec = _rec(
                "newsminute", it["url"], title=it["headline"],
                author=it["author-name"], published=_iso(it["published-at"]),
                text=txt, extra={"subheadline": str(it.get("subheadline") or "")},
            )
        except (KeyError, TypeError):
            continue  # pydantic ValidationError -> row dropped
        if rec["published"] is None:
            continue
        records.append(rec)

    links: list[Link] = []
    q = _qs(url)
    if q.get("offset", "0") == "0":
        total = int(data.get("total", 0))
        pages = (total // NM_PAGE_SIZE) - 1
        for i in range(1, pages - 1):
            nxt = dict(q)
            nxt["offset"] = str(NM_PAGE_SIZE * i)
            links.append(Link(with_query(url.split("?")[0], nxt), dict(meta)))
    return ParseResult(links=links, records=records)


# ---------------------------------------------------------------------------
# telegraph online (reference siren/scrapers/online/telegraph.py)
# ---------------------------------------------------------------------------

TG_ONLINE_PAGE_SIZE = 20  # online/telegraph.py:109
_TG_DATE_RE = re.compile(r"Published (\d{2}\.\d{2}\.\d{2}), (\d{2}:\d{2}) (\w{2})")


def tg_online_parse(payload: str, url: str, meta: dict) -> ParseResult:
    """online/telegraph.py:108-150 (search), 64-100 (article).

    Search page: total = int(div.searchresult text .split()[-1]); article
    hrefs from ul.storylisting li > a with the leading char stripped
    (href[1:], :144). Page 0 fans out pages 1..total//20 (:112-115).
    Article: .articletsection h1/h2; .publishdate strong/span; date via
    regex 'Published dd.mm.yy, HH:MM xx' parsed '%d.%m.%y'; body =
    '\\n'.join(p.text) under #contentbox > div.
    """
    base = _base_of(url)
    if "/search" in urlsplit(url).path:
        soup = parse_html(payload)
        results = soup.find("div", class_="searchresult")
        if not results:
            return ParseResult()
        total = int(results.text.split()[-1])
        links: list[Link] = []
        if storylisting := soup.find("ul", class_="storylisting"):
            for anchor in storylisting.select("li > a"):
                href = str(anchor.get("href", ""))[1:]
                links.append(Link(join_url(base, href), dict(meta)))
        q = _qs(url)
        if q.get("page", "0") == "0":
            pages = total // TG_ONLINE_PAGE_SIZE
            for page in range(1, pages + 1):
                nxt = dict(q)
                nxt["page"] = str(page)
                links.append(Link(with_query(url.split("?")[0], nxt), dict(meta)))
        return ParseResult(links=links)

    soup = parse_html(payload)
    title = header = author = location = ""
    date = None
    if articlet := soup.select_one(".articletsection"):
        title = tag.text if (tag := articlet.find("h1")) else ""
        header = tag.text if (tag := articlet.find("h2")) else ""
        if metaEl := articlet.select_one(".publishdate"):
            author = s.text if (s := metaEl.find("strong")) else ""
            location = s.text if (s := metaEl.find("span")) else ""
            if match := _TG_DATE_RE.search(metaEl.text):
                date = datetime.strptime(match.group(1), "%d.%m.%y")
    if paragraphs := soup.select_one("#contentbox > div"):
        body = "\n".join(p.text for p in paragraphs.find_all("p"))
    else:
        body = ""
    return ParseResult(records=[_rec(
        "tg_online", url, title=title, author=author, location=location,
        published=date, text=body, extra={"header": header},
    )])


# ---------------------------------------------------------------------------
# toi — Times of India epaper search API (reference siren/scrapers/epaper/toi.py)
# ---------------------------------------------------------------------------

TOI_LIMIT = 50  # toi.py:119,219


def toi_parse(payload: str, url: str, meta: dict) -> ParseResult:
    """toi.py:153-202.

    JSON POST response (modeled as a GET-with-params page in the pages
    table). Records from data[]; page 1 fans out pages 2..totalDocs//50+2
    (toi.py:190-196 — deliberately over-fetches vs the true page count).
    Malformed JSON / schema -> page dropped (toi.py:176-182). Derived
    columns reproduce the reference's @property logic: url/image/date
    (toi.py:70-92), date formatted '%d/%m/%Y' (toi.py:82-84).
    """
    try:
        data = json.loads(payload)
        articles = data["data"]
        total = int(data["totalDocs"])
    except (json.JSONDecodeError, KeyError, TypeError, ValueError):
        return ParseResult()
    records: list[dict] = []
    for a in articles:
        try:
            ed = a["edition_details"]
            ed_date = datetime.strptime(ed["date"], "%Y-%m-%d")
            published = datetime.fromisoformat(a["updatedAt"])
            year, _month, _day, *_ = ed_date.timetuple()
            day = f"{_day:02}"
            month = f"{_month:02}"
            page = f"{int(a['page']):03}"
            pub_code = ed["publication_code"]
            ed_code = ed["edition_code"]
            image = (
                f"https://asset.harnscloud.com/PublicationData/{pub_code}/{ed_code}/"
                f"{year}/{month}/{day}/Page/{day}_{month}_{year}_{page}_{ed_code}.jpg"
            )
            share_url = (
                f"https://epaper.timesgroup.com/article-share?"
                f"article={a.get('page_name', '')}_{pub_code}"
            )
            records.append(_rec(
                "toi", share_url, title=a["title"], author=a.get("author"),
                location=a.get("location"), published=published,
                text=a["body"],
                extra={
                    "page": str(a["page"]),
                    "page_title": str(a.get("page_title", "")),
                    "edition_name": ed["edition_name"],
                    "date": ed_date.strftime("%d/%m/%Y"),
                    "publication_code": pub_code,
                    "image": image,
                },
            ))
        except (KeyError, TypeError, ValueError):
            return ParseResult()  # whole-page pydantic failure (toi.py:176-182)
    links: list[Link] = []
    q = _qs(url)
    if q.get("page", "1") == "1":
        pages = (total // TOI_LIMIT) + 2
        for i in range(2, pages + 1):
            nxt = dict(q)
            nxt["page"] = str(i)
            links.append(Link(with_query(url.split("?")[0], nxt), dict(meta)))
    return ParseResult(links=links, records=records)


# ---------------------------------------------------------------------------
# ht — Hindustan Times epaper (reference siren/scrapers/epaper/ht.py)
# ---------------------------------------------------------------------------

def ht_parse(payload: str, url: str, meta: dict) -> ParseResult:
    """ht.py:180-221 (search table), ht.py:94-154 (detail JSON).

    Search: rows of .table > tbody:nth-child(2) > tr; blank rows (no
    td > label) skipped (ht.py:204-206); article_id from
    onclick.split("','")[1].rstrip("' );"); tds 2..4 keyed by data-name
    via the alias map (ht.py:210-218). Detail: ShowArticleView JSON;
    content = StoryContent[0].Body; headline fallback ' - no data -'
    (ht.py:146-154); coalesce fallbacks onto the partial's fields
    (ht.py:125-144).
    """
    if "ShowArticleView" in url:
        try:
            data = json.loads(payload)
            stories = data["StoryContent"]
            body = stories[0]["Body"]
        except (json.JSONDecodeError, KeyError, IndexError, TypeError):
            return ParseResult()
        headlines = stories[0].get("Headlines") or []
        headline = headlines[0] if headlines else " - no data -"
        ed_date_raw = data.get("Eddate")
        ed_date = (
            datetime.strptime(ed_date_raw, "%d/%m/%Y") if ed_date_raw else None
        )
        # coalesce with the partial's fields carried in meta (ht.py:125-144)
        if ed_date is None and meta.get("edition_date"):
            ed_date = datetime.strptime(meta["edition_date"], "%Y/%m/%d")
        page_number = data.get("PageNumber") or meta.get("page_no", "")
        edition_name = data.get("Edname") or meta.get("edition_name", "")
        pics = data.get("LinkPicture") or []
        thumb = pics[0].get("url", "") if pics else ""
        article_id = meta.get("article_id", "")
        share = (
            f"https://epaper.hindustantimes.com/Home/ShareArticle"
            f"?OrgId={article_id}&textview=0"
        )
        return ParseResult(records=[_rec(
            "ht", share, title=headline, published=ed_date, text=body,
            extra={
                "page_number": str(page_number),
                "edition_name": edition_name,
                "thumbnail": thumb,
                "article_id": article_id,
            },
        )])

    base = _base_of(url)
    soup = parse_html(payload)
    links: list[Link] = []
    aliases = {"PageNo": "page_no", "EditionName": "edition_name",
               "editionDate": "edition_date"}
    for row in soup.select(".table > tbody:nth-child(2) > tr"):
        title = row.select_one("td > label")
        if not title:
            continue
        data: dict[str, str] = {}
        data["article_id"] = title.attrs["onclick"].split("','")[1].rstrip("' );")
        for i in range(2, 5):
            item = row.select_one(f"td:nth-child({i})")
            if item is None:
                break
            data[aliases[item.attrs["data-name"]]] = item.text
        m = dict(meta)
        m.update(data)
        links.append(Link(
            join_url(base, f"User/ShowArticleView?OrgId={data['article_id']}"), m,
        ))
    return ParseResult(links=links)


# ---------------------------------------------------------------------------
# readwhere — TNIE/Tribune/TIE epaper platform (reference readwhere/core.py)
# ---------------------------------------------------------------------------

def readwhere_parse(payload: str, url: str, meta: dict) -> ParseResult:
    """readwhere/core.py:137-203.

    publishdates endpoint -> issues in the epoch-second window; each issue
    x keyword -> search/issue/{id}/{kw} links (the edition×keyword
    fan-out, core.py:196-203 + 109-117). Search endpoint -> records when
    status true (core.py:117); parent(issue) fields are copied onto every
    child row (core.py:102-107) — carried here via link meta.
    """
    base = _base_of(url)
    path = urlsplit(url).path
    if "/viewer/publishdates/" in path:
        try:
            issues = json.loads(payload)
        except json.JSONDecodeError:
            return ParseResult()
        keywords = [k for k in meta.get("keywords", "").split("\x1f") if k]
        links: list[Link] = []
        for issue in issues:
            for kw in keywords:
                m = dict(meta)
                m.update({
                    "issue_id": str(issue["id"]),
                    "published": str(issue["published"]),
                    "keyword": kw,
                })
                links.append(Link(
                    join_url(base, f"search/issue/{issue['id']}/{kw}"), m,
                ))
        return ParseResult(links=links)

    try:
        data = json.loads(payload)
    except json.JSONDecodeError:
        return ParseResult()
    if not data.get("status"):
        return ParseResult()
    records: list[dict] = []
    for a in data.get("data", []):
        records.append(_rec(
            "readwhere",
            join_url(base, str(a.get("issue_id", meta.get("issue_id", "")))),
            title=str(a.get("title_id", "")),
            published=_iso(meta.get("published")),
            text=a.get("excerpt", ""),
            extra={
                "pageNum": str(a.get("pageNum", "")),
                "issue_id": str(a.get("issue_id", "")),
                "keyword": meta.get("keyword", ""),
                "edition_id": meta.get("edition_id", ""),
                "edition_name": meta.get("edition_name", ""),
            },
        ))
    return ParseResult(records=records)


# ---------------------------------------------------------------------------
# tg_epaper — Telegraph e-paper (reference siren/scrapers/epaper/telegraph.py)
# ---------------------------------------------------------------------------

_SHOWPOP_RE = re.compile(r"show_pop\('(\d+)','(\d+)','(\d+)'\)")  # telegraph.py:24


def tg_epaper_parse(payload: str, url: str, meta: dict) -> ParseResult:
    """epaper/telegraph.py:34-66 (page), 101-123 (textview).

    Page: #totalpages input value -> page count; show_pop regex
    occurrences -> textview/{paper}/{article}/{edition}.html links. Only
    Page-1 fans out pages 2..totalpages (telegraph.py:68-74, via
    initial[0].pages). Textview: title = .haedlinesstory > b:nth-child(1),
    body = '\\n'.join(.storyview-div p) (telegraph.py:110-113); published
    = the paper's date (carried in meta).
    """
    base = _base_of(url)
    path = urlsplit(url).path
    if "/textview/" in path:
        soup = parse_html(payload)
        _title = soup.select_one(".haedlinesstory > b:nth-child(1)")
        title = _title.text if _title else None
        body = "\n".join(t.text for t in soup.select(".storyview-div p"))
        published = None
        if meta.get("date"):
            published = datetime.strptime(meta["date"], "%Y-%m-%d")
        return ParseResult(records=[_rec(
            "tg_epaper", url, title=title, published=published, text=body,
            extra={"page": meta.get("page", ""), "edition": meta.get("edition", "")},
        )])

    soup = parse_html(payload)
    pages = 0
    if el := soup.select_one("#totalpages"):
        if v := el.get("value"):
            pages = int(v)
    m0 = re.match(r".*/(\d+)/Page-(\d+)\.html$", path)
    edition_id = m0.group(1) if m0 else ""
    page_no = m0.group(2) if m0 else "1"
    links: list[Link] = []
    for match in _SHOWPOP_RE.finditer(payload):
        paper_id, article_id, _ = match.groups()
        m = dict(meta)
        m.update({"page": page_no, "edition": edition_id})
        links.append(Link(
            join_url(base, f"textview/{paper_id}/{article_id}/{edition_id}.html"), m,
        ))
    if page_no == "1":
        prefix = path.rsplit("/", 1)[0]
        for i in range(2, pages + 1):
            m = dict(meta)
            links.append(Link(join_url(base, f"{prefix.lstrip('/')}/Page-{i}.html"), m))
    return ParseResult(links=links)


# ---------------------------------------------------------------------------
# registry + dispatch
# ---------------------------------------------------------------------------

def _base_of(url: str) -> str:
    p = urlsplit(url)
    return f"{p.scheme}://{p.netloc}"


# Synthetic-web domains (testing/sitegen.py) -> kernel. register() allows
# users to add real domains, mirroring the reference's SCRAPERS registry
# (siren/__init__.py:9-18).
KERNELS: dict[str, object] = {}


def register(domain: str, fn) -> None:
    KERNELS[domain] = fn


for _d, _fn in {
    "mirror-city.example": mirror_parse,
    "indiatoday.example": indiatoday_parse,
    "newsminute.example": newsminute_parse,
    "tg-online.example": tg_online_parse,
    "toi-epaper.example": toi_parse,
    "ht-epaper.example": ht_parse,
    "readwhere.example": readwhere_parse,
    "tg-epaper.example": tg_epaper_parse,
}.items():
    register(_d, _fn)


# URL-pattern fallback for domains not in KERNELS (e.g. the bench-scale
# synthetic web's siteN.example hosts, which serve the mirror dialect).
# Lives in-module so executor-side fresh imports see it without any
# driver-side registration handshake.
_PATTERN_KERNELS: tuple[tuple[str, object], ...] = (
    ("/getsearchdata.cms", mirror_parse),
    ("/news/", mirror_parse),
)


def parse_page(url: str, payload: str, meta: dict | None = None) -> ParseResult:
    """Dispatch by registrable domain, then URL pattern; unknown -> empty."""
    fn = KERNELS.get(registrable_domain(url))
    if fn is None:
        for pat, candidate in _PATTERN_KERNELS:
            if pat in url:
                fn = candidate
                break
    if fn is None:
        return ParseResult()
    try:
        res = fn(payload, url, meta or {})  # type: ignore[operator]
    except Exception as e:
        # error isolation: drop the row, keep the batch (mirror.py:81-85),
        # surface the error for the counters table (SURVEY.md §1.4)
        return ParseResult(error=f"{type(e).__name__}: {e}")
    # within-page link dedup, first occurrence wins — the reference's
    # done-set suppresses later duplicates in task-creation order
    # (ht.py:242-247). Without this, two same-url links with different
    # meta from one page would tie on every frontier sort key and the
    # dedup representative would be partition-order-dependent.
    if res.links:
        seen: set[str] = set()
        uniq = []
        for link in res.links:
            if link.url not in seen:
                seen.add(link.url)
                uniq.append(link)
        res.links = uniq
    return res
