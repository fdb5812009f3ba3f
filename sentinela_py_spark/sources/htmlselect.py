"""Pure-Python CSS ``select_one`` extraction over stored HTML (M16).

The engine half of the reference's tolerant field extraction
(sentinela/infrastructure/scraper.py:471-554): given article HTML already
landed in a table, extract text or attributes by CSS selector with the
reference's exact tolerance contract —

- malformed selectors (unbalanced brackets/quotes) are repaired via
  ``normalize_selector_query`` and retried;
- a failing ``...:first-child`` selector falls back to its parent query
  (``simplify_first_child``);
- attribute extraction strips whitespace; text extraction concatenates
  descendant text stripped per segment (BeautifulSoup
  ``get_text(strip=True)`` semantics).

Implemented stdlib-only (html.parser + a CSS subset engine: tag, ``.class``,
``#id``, ``[attr]``, ``[attr=value]``, descendant/child combinators,
``:first-child``) because executors ship no bs4/soupsieve; the subset covers
every selector shape the reference's portal configs and tests use. Rows are
processed inside Arrow ``mapInPandas`` (see ``extract_fields``): each HTML
payload is parsed ONCE and all selectors run against the same tree — at
100 TB the parse dominates, so per-selector re-parsing would multiply the
hot path by the selector count.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass, field
from html.parser import HTMLParser

from sentinela_py_spark.sources.scrape_utils import (
    normalize_selector_query,
    simplify_first_child,
)

VOID_ELEMENTS = frozenset(
    "area base br col embed hr img input link meta param source track wbr".split()
)


class SelectorSyntaxError(ValueError):
    """Raised for selectors the subset grammar cannot parse."""


@dataclass
class Node:
    tag: str
    attrs: dict[str, str]
    parent: "Node | None" = None
    children: list["Node | str"] = field(default_factory=list)

    def element_children(self) -> list["Node"]:
        return [c for c in self.children if isinstance(c, Node)]

    def classes(self) -> set[str]:
        return set(self.attrs.get("class", "").split())

    def get_text(self, strip: bool = True) -> str:
        parts: list[str] = []

        def walk(n: Node) -> None:
            for c in n.children:
                if isinstance(c, str):
                    parts.append(c.strip() if strip else c)
                else:
                    walk(c)

        walk(self)
        return "".join(p for p in parts if p)


class _TreeBuilder(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Node("[document]", {})
        self._stack = [self.root]

    def handle_starttag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        node = Node(tag, {k: (v or "") for k, v in attrs}, parent=self._stack[-1])
        self._stack[-1].children.append(node)
        if tag not in VOID_ELEMENTS:
            self._stack.append(node)

    def handle_startendtag(self, tag: str, attrs: list[tuple[str, str | None]]) -> None:
        node = Node(tag, {k: (v or "") for k, v in attrs}, parent=self._stack[-1])
        self._stack[-1].children.append(node)

    def handle_endtag(self, tag: str) -> None:
        # Tolerant close: pop to the nearest matching open tag, ignore strays.
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                return

    def handle_data(self, data: str) -> None:
        if data:
            self._stack[-1].children.append(data)


def parse_html(html: str) -> Node:
    builder = _TreeBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


@dataclass
class _Simple:
    tag: str = "*"
    ident: str | None = None
    classes: tuple[str, ...] = ()
    attrs: tuple[tuple[str, str | None], ...] = ()
    first_child: bool = False

    def matches(self, node: Node) -> bool:
        if self.tag != "*" and node.tag != self.tag:
            return False
        if self.ident is not None and node.attrs.get("id") != self.ident:
            return False
        if self.classes and not set(self.classes) <= node.classes():
            return False
        for name, value in self.attrs:
            if name not in node.attrs:
                return False
            if value is not None and node.attrs[name] != value:
                return False
        if self.first_child:
            parent = node.parent
            if parent is None or parent.element_children()[0] is not node:
                return False
        return True


def parse_selector(query: str) -> list[tuple[str, _Simple]]:
    """Parse the CSS subset into [(combinator, simple)] — combinator is
    ``" "`` (descendant) or ``">"`` (child); the first entry's combinator
    is ignored. Raises SelectorSyntaxError on anything malformed."""
    # Tokenize into compounds and combinators, respecting bracket/quote state.
    tokens: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    depth = 0
    for ch in query:
        if quote is not None:
            buf.append(ch)
            if ch == quote:
                quote = None
            continue
        if ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch == "[":
            depth += 1
            buf.append(ch)
        elif ch == "]":
            depth -= 1
            if depth < 0:
                raise SelectorSyntaxError(f"unbalanced ']' in {query!r}")
            buf.append(ch)
        elif ch in " >" and depth == 0:
            if buf:
                tokens.append("".join(buf))
                buf = []
            if ch == ">":
                tokens.append(">")
        else:
            buf.append(ch)
    if quote is not None or depth != 0:
        raise SelectorSyntaxError(f"unbalanced quote/bracket in {query!r}")
    if buf:
        tokens.append("".join(buf))

    out: list[tuple[str, _Simple]] = []
    combinator = " "
    expect_compound = True
    for tok in tokens:
        if tok == ">":
            if expect_compound or not out:
                raise SelectorSyntaxError(f"dangling '>' in {query!r}")
            combinator = ">"
            expect_compound = True
            continue
        out.append((combinator if out else " ", _parse_compound(tok, query)))
        combinator = " "
        expect_compound = False
    if expect_compound and out:
        raise SelectorSyntaxError(f"dangling combinator in {query!r}")
    if not out:
        raise SelectorSyntaxError(f"empty selector {query!r}")
    return out


def _parse_compound(tok: str, query: str) -> _Simple:
    tag = "*"
    ident: str | None = None
    classes: list[str] = []
    attrs: list[tuple[str, str | None]] = []
    first_child = False
    i = 0
    if tok and tok[0] not in ".#[:":
        j = i
        while j < len(tok) and (tok[j].isalnum() or tok[j] in "-_*"):
            j += 1
        tag = tok[i:j].lower() or "*"
        i = j
    while i < len(tok):
        ch = tok[i]
        if ch in ".#":
            j = i + 1
            while j < len(tok) and (tok[j].isalnum() or tok[j] in "-_"):
                j += 1
            name = tok[i + 1 : j]
            if not name:
                raise SelectorSyntaxError(f"empty {'class' if ch == '.' else 'id'} in {query!r}")
            if ch == ".":
                classes.append(name)
            else:
                ident = name
            i = j
        elif ch == "[":
            # quote-aware scan to the matching ']' (a quoted ']' inside an
            # attribute value must not terminate the block)
            j = i + 1
            q: str | None = None
            while j < len(tok) and (q is not None or tok[j] != "]"):
                if q is None and tok[j] in "'\"":
                    q = tok[j]
                elif tok[j] == q:
                    q = None
                j += 1
            if j >= len(tok):
                raise SelectorSyntaxError(f"unclosed '[' in {query!r}")
            inner = tok[i + 1 : j]
            if "=" in inner:
                name, value = inner.split("=", 1)
                if value[:1] in "'\"" and value[:1] == value[-1:] and len(value) >= 2:
                    value = value[1:-1]
                attrs.append((name.strip(), value))
            else:
                attrs.append((inner.strip(), None))
            i = j + 1
        elif ch == ":":
            j = i + 1
            while j < len(tok) and (tok[j].isalnum() or tok[j] == "-"):
                j += 1
            pseudo = tok[i + 1 : j]
            if pseudo != "first-child":
                raise SelectorSyntaxError(f"unsupported pseudo-class :{pseudo} in {query!r}")
            first_child = True
            i = j
        else:
            raise SelectorSyntaxError(f"unexpected {ch!r} in {query!r}")
    return _Simple(tag, ident, tuple(classes), tuple(attrs), first_child)


def _chain_matches(node: Node, chain: list[tuple[str, _Simple]]) -> bool:
    """Right-to-left ancestor verification of the combinator chain, WITH
    backtracking: for a descendant combinator every matching ancestor is a
    candidate, not just the nearest one (greedy nearest-match false-
    negatives on chains like ``A > B C`` when the nearest matching B is
    not a child of an A but a farther one is)."""

    def up(idx: int, current: Node) -> bool:
        if idx == 0:
            return True
        combinator, _ = chain[idx]
        _, parent_sel = chain[idx - 1]
        if combinator == ">":
            p = current.parent
            return p is not None and parent_sel.matches(p) and up(idx - 1, p)
        p = current.parent
        while p is not None:
            if parent_sel.matches(p) and up(idx - 1, p):
                return True
            p = p.parent
        return False

    return up(len(chain) - 1, node)


def select_one(root: Node, query: str) -> Node | None:
    """First element in document order matching the selector."""
    chain = parse_selector(query)
    _, last = chain[-1]

    def dfs(n: Node) -> Node | None:
        for child in n.element_children():
            if last.matches(child) and _chain_matches(child, chain):
                return child
            found = dfs(child)
            if found is not None:
                return found
        return None

    return dfs(root)


def select_all(root: Node, query: str) -> list[Node]:
    """Every element in document order matching the selector (the
    listing-iteration shape: ``soup.select(listing_article)`` at
    reference scraper.py:87)."""
    chain = parse_selector(query)
    _, last = chain[-1]
    found: list[Node] = []

    def dfs(n: Node) -> None:
        for child in n.element_children():
            if last.matches(child) and _chain_matches(child, chain):
                found.append(child)
            dfs(child)

    dfs(root)
    return found


def extract_value(root: Node, query: str, attribute: str | None = None) -> str:
    """The reference's `_extract_value` contract (scraper.py:475-521):
    repair-and-retry malformed selectors, `:first-child` parent fallback,
    then text or stripped attribute; ValueError when nothing matches."""
    try:
        target = select_one(root, query)
    except SelectorSyntaxError as exc:
        repaired = normalize_selector_query(query)
        if repaired == query:
            raise ValueError(f"Selector {query!r} inválido: {exc}") from exc
        try:
            target = select_one(root, repaired)
        except SelectorSyntaxError as exc2:
            raise ValueError(f"Selector {query!r} inválido: {exc2}") from exc2
        query = repaired

    if target is None and query.endswith(":first-child"):
        target = select_one(root, simplify_first_child(query))

    if target is None:
        raise ValueError(f"Selector {query!r} not found")

    if attribute:
        if attribute not in target.attrs:
            raise ValueError(f"Attribute {attribute!r} not found for selector {query!r}")
        return str(target.attrs[attribute]).strip()
    return target.get_text(strip=True)


def extract_fields(df, html_col: str, selectors: dict[str, tuple[str, str | None]]):
    """Arrow `mapInPandas` field extraction: parse each row's HTML once,
    run every (query, attribute) selector against the same tree. Output =
    passthrough key columns + one string column per selector (NULL where
    extraction fails, with the failure message in `<name>_error`-style
    nulls omitted — errors surface as NULLs so a bad portal template never
    kills a 100 TB scan)."""
    import pandas as pd

    from pyspark.sql.types import StringType, StructField, StructType

    key_cols = [c for c in df.columns if c != html_col]
    schema = StructType(
        [df.schema[c] for c in key_cols] + [StructField(n, StringType()) for n in selectors]
    )

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = {c: pdf[c] for c in key_cols}
            extracted: dict[str, list[str | None]] = {n: [] for n in selectors}
            for html in pdf[html_col]:
                if html is None:
                    for name in selectors:
                        extracted[name].append(None)
                    continue
                root = parse_html(html)
                for name, (query, attribute) in selectors.items():
                    try:
                        extracted[name].append(extract_value(root, query, attribute))
                    except ValueError:
                        extracted[name].append(None)
            out.update(extracted)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema)
