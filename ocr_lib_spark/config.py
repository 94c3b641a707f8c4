"""Extraction knobs.

Every threshold in the reference is an optional parameter with a
hard-coded default applied via ``(or param default)`` (SURVEY.md §1.3):
match threshold 70 (core.clj:1628-1631), space gap 16 (core.clj:1630-1632),
hooks band 8 (test usage, core_test.clj), noise floor 20 dots
(core_helper.clj:490-495), threads 1 (core.clj:1496-1497). This engine
keeps the same knob surface — config is data, never code.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractionConfig:
    #: nearest-prototype acceptance threshold in [0, 100]; a block whose
    #: best prototype score is below this is classified ``unknown``
    #: (reference: match > 70 -> char else "*", core.clj:1628-1634).
    match_threshold: float = 70.0

    #: gap (chars of raw payload between consecutive kept blocks) at or
    #: under which adjacent kept blocks are merged into one block — the
    #: hook/diacritic attachment analog (hooks-value, core.clj:687-751).
    attach_gap: int = 8

    #: blocks whose visible text is shorter than this are dropped as
    #: noise before classification (min-dots 20, core_helper.clj:490-495).
    min_block_chars: int = 3

    #: placeholder emitted for an above-noise block that no prototype
    #: accepts (the "*" of core.clj:1628-1634). ``None`` drops silently.
    unknown_placeholder: str | None = None

    #: max raw snippets of unclassifiable blocks exported per turn into
    #: the ``unknown_blocks`` column — the unknown-sign crop export with
    #: its LIMIT (draw-sign core.clj:1071-1133; cap core.clj:1634-1672).
    unknown_export_limit: int = 1

    #: labels whose blocks contribute to the extracted main content
    #: (the taught-alphabet "keep" set; FIXTURES.md §2).
    keep_labels: tuple[str, ...] = ("content", "code", "blob", "tool_output")

    #: separator between kept blocks in the assembled text
    #: (reference: "\n" per row, core.clj:1687-1689).
    block_separator: str = "\n"

    #: over-merged block splitting (the citaj sliding-window analog,
    #: core_helper.clj:324-361): a block whose visible text exceeds this
    #: many chars is split at line/sentence boundaries into units that
    #: classify independently (reference: segments <37 px classify
    #: directly, wider ones get the window split). ``None`` disables —
    #: the production read-image-fn path (core.clj:1772-1806) does not
    #: split; splitting is the dev-pipeline reader's behavior.
    split_max_chars: int | None = None

    #: units with fewer visible chars than this are skipped as sub-glyph
    #: noise during block splitting (reference: skip segments <8 px,
    #: core_helper.clj:333-335).
    split_min_unit_chars: int = 8

    #: classifier variant: "argmax" = single-vector nearest prototype
    #: with strictly-greater-wins/first-on-tie fold (check-matching-fn,
    #: core.clj:1020-1069); "shift_avg" = the dev pipeline's
    #: translation-tolerant matcher (core_helper.clj:259-322): scores
    #: the block AND its one-char head/tail-trimmed variants (the 1-D
    #: text analog of the (0,-1),(-1,0),(-1,-1) pixel shifts), averages
    #: the four scores, tie-breaks by smallest average difference
    #: (find-max, core_helper.clj:226-240), then first prototype.
    classifier: str = "argmax"

    #: number of hash buckets for checkpoint/lineage partitioning.
    lineage_buckets: int = 32


DEFAULT_CONFIG = ExtractionConfig()
