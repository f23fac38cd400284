"""Arc90/Readability-style main-content scoring (north-star generalization).

An *additional* extraction signal alongside the exact ``<p>``-paragraph
oracle: tag-blocklist boilerplate stripping plus text-density / link-density
scoring per container, so real-world pages whose main content is not marked
up with ``<p>`` still yield a main-text candidate. The per-turn equality
contract stays with extract.core.extract_html.

Pure Python, like pdf_layout.py: Spark reaches it only through
``extract.udfs.extract_stage(with_readability=True)``, which appends
``readability_row``'s four values to html rows as readability_text,
readability_blocks, readability_max_score and link_density.

Public-knowledge heuristics (Arc90 readability.js, boilerpipe paper
Kohlschütter et al., WSDM 2010): blocklisted structural tags score 0; text
blocks score by char count, comma count, and are penalized by link density.
"""

from __future__ import annotations

from html.parser import HTMLParser

BLOCKLIST_TAGS = frozenset(
    {
        "script", "style", "noscript", "template", "svg", "head",
        "nav", "aside", "footer", "header", "form", "button", "iframe",
    }
)
_BLOCK_CONTAINERS = frozenset({"p", "div", "article", "section", "main", "td", "li", "pre", "blockquote"})


class _DensityScorer(HTMLParser):
    """Collects text blocks per container with link-char accounting."""

    def __init__(self) -> None:
        super().__init__()
        self._suppress = 0  # depth inside blocklisted tags
        self._link_depth = 0
        self._stack: list[dict] = [self._new_block("html")]
        self.blocks: list[dict] = []

    @staticmethod
    def _new_block(tag: str) -> dict:
        return {"tag": tag, "chars": 0, "link_chars": 0, "commas": 0, "texts": []}

    def handle_starttag(self, tag, attrs):  # noqa: ANN001
        t = tag.lower()
        if t in BLOCKLIST_TAGS:
            self._suppress += 1
            return
        if t == "a":
            self._link_depth += 1
        if t in _BLOCK_CONTAINERS:
            self._stack.append(self._new_block(t))

    def handle_endtag(self, tag):  # noqa: ANN001
        t = tag.lower()
        if t in BLOCKLIST_TAGS:
            self._suppress = max(0, self._suppress - 1)
            return
        if t == "a":
            self._link_depth = max(0, self._link_depth - 1)
        if t in _BLOCK_CONTAINERS and len(self._stack) > 1 and self._stack[-1]["tag"] == t:
            block = self._stack.pop()
            if block["chars"]:
                self.blocks.append(block)

    def handle_data(self, data):  # noqa: ANN001
        if self._suppress:
            return
        text = data.strip()
        if not text:
            return
        top = self._stack[-1]
        top["chars"] += len(text)
        top["commas"] += text.count(",")
        if self._link_depth:
            top["link_chars"] += len(text)
        top["texts"].append(text)

    def close(self):
        super().close()
        while len(self._stack) > 1:
            block = self._stack.pop()
            if block["chars"]:
                self.blocks.append(block)
        root = self._stack[0]
        if root["chars"]:
            self.blocks.append(root)


def score_blocks(html: str) -> list[dict]:
    scorer = _DensityScorer()
    scorer.feed(html)
    scorer.close()
    out = []
    for b in scorer.blocks:
        link_density = b["link_chars"] / b["chars"] if b["chars"] else 0.0
        score = (b["chars"] + 20.0 * b["commas"]) * (1.0 - link_density)
        out.append(
            {
                "tag": b["tag"],
                "text": " ".join(b["texts"]),
                "chars": b["chars"],
                "link_density": link_density,
                "score": score,
            }
        )
    return out


def readability_row(doc: str | None) -> tuple[str, int, float, float]:
    """(main_text, n_blocks, max_block_score, link_density) of one page;
    main_text joins the blocks scoring at least 25, in document order."""
    if not doc:
        return "", 0, 0.0, 0.0
    blocks = score_blocks(doc)
    total = sum(b["chars"] for b in blocks) or 1
    links = sum(b["link_density"] * b["chars"] for b in blocks)
    return (
        "\n".join(b["text"] for b in blocks if b["score"] >= 25.0),
        len(blocks),
        max((b["score"] for b in blocks), default=0.0),
        links / total,
    )
