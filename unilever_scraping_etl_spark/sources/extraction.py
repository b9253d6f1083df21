"""Declarative HTML field extraction (SURVEY.md §1.3, §2.9).

The reference drives extraction with eight BeautifulSoup selector
constants (scrap_tokopedia.py:30-73) applied imperatively per page. We
keep the same *shape* — a selector is (tag name, required attrs) — but
make the whole spec a declarative table (``ExtractionSpec``) consumed by
generic row-level extract functions, and implement matching on a
minimal stdlib ``html.parser`` DOM (clean-room; bs4 is not a
dependency).

Extraction emits RAW STRINGS; typing/parsing (Rupiah, percent) is
done afterwards by JVM-side expressions in functions/scalars.py — the
Python boundary does only what Python must (fetching and DOM walking),
everything else stays in codegen.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser
from typing import Iterator


# ---------------------------------------------------------------------------
# Minimal DOM
# ---------------------------------------------------------------------------

_VOID_TAGS = frozenset({
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr",
})


@dataclass
class Node:
    tag: str
    attrs: dict[str, str]
    children: list["Node"] = field(default_factory=list)
    text: str = ""          # set only on "#text" pseudo-nodes
    parent: "Node | None" = None

    def iter_descendants(self) -> Iterator["Node"]:
        for child in self.children:
            yield child
            yield from child.iter_descendants()

    def get_text(self, strip: bool = False) -> str:
        # Text chunks are "#text" pseudo-children, so preorder traversal
        # yields document order (text interleaved with child elements).
        parts = [self.text] + [d.text for d in self.iter_descendants()]
        txt = "".join(parts)
        return txt.strip() if strip else txt

    def get(self, attr: str) -> str | None:
        return self.attrs.get(attr)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]", {})
        self._stack = [self.root]

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        node = Node(tag, {k: (v or "") for k, v in attrs}, parent=self._stack[-1])
        self._stack[-1].children.append(node)
        if tag not in _VOID_TAGS:
            self._stack.append(node)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        node = Node(tag, {k: (v or "") for k, v in attrs}, parent=self._stack[-1])
        self._stack[-1].children.append(node)

    def handle_endtag(self, tag: str) -> None:
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    def handle_data(self, data: str) -> None:
        self._stack[-1].children.append(
            Node("#text", {}, text=data, parent=self._stack[-1]))


def parse_html(html: str) -> Node:
    builder = _TreeBuilder()
    builder.feed(html or "")
    return builder.root


# ---------------------------------------------------------------------------
# Selectors — (tag name, exact attrs); class compares by token membership,
# mirroring the find(name=..., attrs=...) semantics the reference relies on.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Selector:
    name: str | None = None
    attrs: tuple[tuple[str, str], ...] = ()

    @staticmethod
    def of(name: str | None = None, **attrs: str) -> "Selector":
        return Selector(name, tuple(sorted(attrs.items())))

    def matches(self, node: Node) -> bool:
        if self.name is not None and node.tag != self.name:
            return False
        for k, v in self.attrs:
            key = "class" if k == "class_" else k
            actual = node.attrs.get(key)
            if actual is None:
                return False
            if key == "class":
                if v not in actual.split():
                    return False
            elif actual != v:
                return False
        return True


def find_all(root: Node, sel: Selector) -> list[Node]:
    return [n for n in root.iter_descendants() if sel.matches(n)]


def find(root: Node, sel: Selector) -> Node | None:
    for n in root.iter_descendants():
        if sel.matches(n):
            return n
    return None


# ---------------------------------------------------------------------------
# Extraction spec — the declarative form of scrap_tokopedia.py:30-73.
# Attr values follow the reference's public page markup identifiers.
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class FieldSpec:
    field: str           # output column
    selector: Selector
    required: bool = False
    attr: str | None = None     # project this attribute instead of text


@dataclass(frozen=True)
class ExtractionSpec:
    card_selector: Selector                 # ALL_PRODUCTS (SCRAPER:40-43)
    invalid_card_selector: Selector         # INVALID_PRODUCTS (SCRAPER:45-48)
    empty_page_selector: Selector           # INVALID_PAGE_MARK (SCRAPER:35-38)
    next_button_selector: Selector          # NEXT_BUTTON (SCRAPER:30-33)
    link_attr: str                          # href projection (SCRAPER:203)
    product_fields: tuple[FieldSpec, ...]   # PRODUCT_* (SCRAPER:50-73)


DEFAULT_SPEC = ExtractionSpec(
    card_selector=Selector.of("a", **{"data-testid": "lnkProductContainer"}),
    invalid_card_selector=Selector.of("div", **{"data-testid": "imgProductShadow"}),
    empty_page_selector=Selector.of("div", **{"data-testid": "divProductEmptyState"}),
    next_button_selector=Selector.of("a", **{"data-testid": "btnShopProductPageNext"}),
    link_attr="href",
    product_fields=(
        FieldSpec("name_raw", Selector.of("h1", **{"data-testid": "lblPDPDetailProductName"}), required=True),
        FieldSpec("detail_raw", Selector.of("div", **{"data-testid": "lblPDPDescriptionProduk"})),
        FieldSpec("price_raw", Selector.of("div", **{"data-testid": "lblPDPDetailProductPrice"}), required=True),
        FieldSpec("originalprice_raw", Selector.of("span", **{"data-testid": "lblPDPDetailOriginalPrice"})),
        FieldSpec("discount_raw", Selector.of("span", **{"data-testid": "lblPDPDetailDiscountPercentage"})),
    ),
)


# ---------------------------------------------------------------------------
# Row-level extract functions (run by ingest.py in the worker that fetched
# the page, inside one mapInPandas per fetch level)
# ---------------------------------------------------------------------------

def extract_links(html: str | None, spec: ExtractionSpec = DEFAULT_SPEC) -> list[str]:
    """Catalog page -> product hrefs of ACTIVE cards: find all cards,
    drop cards containing a shadow (inactive) marker child — the
    child-exists anti-filter (scrap_tokopedia.py:197-204, SURVEY.md P3).
    A failed/empty page yields [] (never None: the reference's None
    return at scrap_tokopedia.py:205-209 crashes its caller)."""
    if not html:
        return []
    root = parse_html(html)
    links: list[str] = []
    for card in find_all(root, spec.card_selector):
        if find(card, spec.invalid_card_selector) is not None:
            continue
        href = card.get(spec.link_attr)
        if href:
            links.append(href)
    return links


def page_stats(html: str | None, spec: ExtractionSpec = DEFAULT_SPEC) -> tuple[int, int, bool]:
    """(valid, invalid, page_ok) — product_validity_count semantics
    (scrap_tokopedia.py:131-151): a page with an empty-state marker is
    (0, 0, False); otherwise valid = total cards - shadow-marked cards."""
    if not html:
        return (0, 0, False)
    root = parse_html(html)
    if find(root, spec.empty_page_selector) is not None:
        return (0, 0, False)
    cards = find_all(root, spec.card_selector)
    invalid = sum(1 for c in cards if find(c, spec.invalid_card_selector) is not None)
    return (len(cards) - invalid, invalid, True)


def is_page_empty(html: str | None, spec: ExtractionSpec = DEFAULT_SPEC) -> bool:
    """Required-field null predicate (scrap_tokopedia.py:211-229): a
    product page is empty iff name or price is missing."""
    if not html:
        return True
    root = parse_html(html)
    required = [f for f in spec.product_fields if f.required]
    return any(find(root, f.selector) is None for f in required)


def links_udtf(spec: ExtractionSpec = DEFAULT_SPEC):
    """U2 as a real Python UDTF (Spark 3.5+ table function): one catalog
    page row in, one row per active product link out — the table-valued
    form of extract_links for SQL users (``SELECT u.* FROM pages,
    LATERAL extract_links(html) u``) over HTML already in a table. The
    scrape itself uses ingest.catalog_links, which fetches each catalog
    page and explodes its links in the same Python worker."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="link string")
    class ExtractLinks:
        def eval(self, html: str):
            for link in extract_links(html, spec):
                yield (link,)

    return ExtractLinks


def extract_product_raw(html: str | None,
                        spec: ExtractionSpec = DEFAULT_SPEC) -> dict[str, str | None]:
    """Product page -> raw string fields per the spec; None where a
    selector misses (scrap_tokopedia.py:251-266 extracts + casts in one
    step; we extract here and cast JVM-side)."""
    out: dict[str, str | None] = {f.field: None for f in spec.product_fields}
    if not html:
        return out
    root = parse_html(html)
    for f in spec.product_fields:
        node = find(root, f.selector)
        if node is None:
            continue
        out[f.field] = node.get(f.attr) if f.attr else node.get_text(strip=True)
    return out
