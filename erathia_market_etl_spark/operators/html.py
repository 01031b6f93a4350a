"""HTML / markup extraction — the boilerplate-stripping stage upstream
of every text-quality gate in a pretraining pipeline (r16, VERDICT r15
item 4: the last big absent LLM-pipeline stage).

Real crawled corpora arrive as HTML; before language-ID, quality
scoring, dedup, or decontamination can run, the markup has to become
text and the navigation/footer/script boilerplate has to go. The
standard shape (readability / jusText / trafilatura) is: drop
script+style wholesale, segment the document into block-level
elements, compute per-block signals — text length and link density
being the two workhorses — and keep the content blocks.

Everything here is a **Column expression builder**: pure JVM-side
built-ins (``regexp_extract_all`` / ``regexp_replace`` / ``transform``
/ ``zip_with`` / ``filter`` / ``aggregate``), no UDFs, no shuffle —
extraction is a map-only linear scan that rides whole-stage codegen
and scales row-proportionally exactly like text_quality_gate
(SCALE.md text family). The patterns stay inside what Java regex
guarantees deterministic: non-greedy dot-all spans and one
backreference for tag pairing; no lookahead, no nested-element
recursion (a block's inner markup is stripped, not re-segmented —
the flat-block model jusText uses).

Reference surface: the reference engine has no markup stage at all
(its bronze inputs are already relational), so this is extension
surface in the SURVEY §2 sense — the operator family a user pointing
the engine at crawled data needs first.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tags whose entire element (markup AND content) is noise.
NOISE_TAGS = "script|style|noscript|template"
# Block-level container tags that delimit candidate text blocks.
BLOCK_TAGS = "p|nav|footer|header|aside|h1|h2|h3|h4|h5|h6|li|div|td|blockquote|pre|article|section"

# (?is): dot matches newlines, tags match case-insensitively.
NOISE_RE = rf"(?is)<({NOISE_TAGS})\b[^>]*>.*?</\1\s*>"
BLOCK_RE = rf"(?is)<({BLOCK_TAGS})\b[^>]*>(.*?)</\1\s*>"
ANCHOR_RE = r"(?is)<a\b[^>]*>(.*?)</a\s*>"
TAG_RE = r"(?s)<[^>]*>"

# jusText-style keep thresholds: a block survives if it carries enough
# plain text AND links make up at most half of it. Integer
# parts-per-million so both engines compare exact integers, never
# floats (SURVEY §7.4 discipline).
MIN_BLOCK_CHARS = 20
MAX_LINK_PPM = 500_000
PPM = 1_000_000


def strip_noise(html: Column) -> Column:
    """Remove script/style/noscript/template elements wholesale —
    BEFORE block segmentation, so a ``<`` inside javascript can never
    open a phantom block."""
    return F.regexp_replace(html, NOISE_RE, "")


def block_contents(html: Column) -> Column:
    """array<string> of block-element inner markup, in document order.
    Backreference pairing (``<p ...> ... </p>``) keeps a block's span
    honest; inner markup is preserved for the signal pass."""
    return F.regexp_extract_all(strip_noise(html), F.lit(BLOCK_RE), 2)


def plain_text(block: Column) -> Column:
    """Strip every remaining tag from a block, keeping display text
    (anchor text survives; the markup around it does not)."""
    return F.regexp_replace(block, TAG_RE, "")


def link_text_chars(block: Column) -> Column:
    """Total characters of anchor DISPLAY text in a block — the
    numerator of link density. regexp_extract_all(group 1) collects
    every anchor's inner text; aggregate folds the lengths JVM-side."""
    return F.aggregate(
        F.regexp_extract_all(block, F.lit(ANCHOR_RE), 1),
        F.lit(0).cast("long"),
        lambda acc, a: acc + F.length(plain_text(a)),
    )


def link_density_ppm(link_chars: Column, chars: Column) -> Column:
    """floor(link_chars * 1e6 / chars) as a BIGINT; an empty block
    reads as all-link (PPM) so the keep rule drops it. Exactness note:
    both operands are integers < 2^31, the scaled numerator is < 2^53,
    and the true quotient is never within 2^-40 of a non-attained
    integer (denominators are block lengths < 10^5), so the double
    division rounds to the same floor DuckDB's integer ``//`` takes."""
    return F.when(chars > 0, ((link_chars * PPM) / chars).cast("long")).otherwise(
        F.lit(PPM).cast("long")
    )


def keep_block(chars: Column, ppm: Column) -> Column:
    """The two-signal content rule: enough text, not link-dominated."""
    return (chars >= MIN_BLOCK_CHARS) & (ppm <= MAX_LINK_PPM)


def extract_content(html: Column) -> dict[str, Column]:
    """Full extraction over one html column — returns the per-document
    signal columns as a dict (callers alias/select what they need):

      n_blocks      blocks found after noise stripping
      n_kept        blocks surviving the keep rule
      kept_chars    total plain-text chars of kept blocks
      max_kept_ppm  worst link density among kept blocks (0 if none)
      kept_text     kept blocks' plain text joined by newline, in
                    document order — the extraction output a
                    downstream quality/dedup stage would consume

    Shape: one chain of array expressions over the row — no explode,
    no shuffle, codegen end to end."""
    blocks = block_contents(html)
    plains = F.transform(blocks, plain_text)
    chars = F.transform(plains, F.length)
    links = F.transform(blocks, link_text_chars)
    ppms = F.zip_with(links, chars, link_density_ppm)
    keeps = F.zip_with(chars, ppms, keep_block)
    kept_plains = F.filter(
        F.zip_with(plains, keeps, lambda t, k: F.when(k, t)),
        lambda t: t.isNotNull(),
    )
    kept_ppms = F.filter(
        F.zip_with(ppms, keeps, lambda p, k: F.when(k, p)),
        lambda p: p.isNotNull(),
    )
    return {
        "n_blocks": F.size(blocks).cast("int"),
        "n_kept": F.size(kept_plains).cast("int"),
        "kept_chars": F.aggregate(
            kept_plains, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
        ),
        "max_kept_ppm": F.coalesce(F.array_max(kept_ppms), F.lit(0).cast("long")),
        "kept_text": F.concat_ws("\n", kept_plains),
    }
