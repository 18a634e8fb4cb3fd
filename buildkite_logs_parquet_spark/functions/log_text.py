"""Scalar expressions for Buildkite log text — OSC parse, ANSI strip, classify.

Exact-parity targets (reference semantics, re-expressed as JVM-side Spark
expressions so the hot path never leaves whole-stage codegen):

* OSC timestamp extraction — reference ``scanner.go:18-91`` (``ParseLine``):
  a line is an OSC line iff it is >= 10 **bytes**, starts with
  ``\\x1b_bk;t=``, and contains a BEL (``\\x07``) after the prefix.  The
  timestamp is the byte span between ``=`` and the first BEL, parsed as a
  base-10 int64; non-numeric is a hard parse error in the reference (we
  quarantine instead, see operators/ingest.py).  Content is everything after
  the first BEL; non-OSC lines keep the whole line as content.

* ANSI strip — reference ``scanner.go:94-151`` (``StripANSI``): a single
  left-to-right byte machine with two branches: (1) ``ESC [`` then skip all
  bytes until an ASCII letter (inclusive; tolerate end-of-string), and
  (2) an ESC-less ``[`` followed by up to 8 digits/semicolons and an ASCII
  letter within a 10-byte lookahead.  A single regex alternation replicates
  the machine exactly because regex scanning is also a single left-to-right
  pass and the two alternatives start with distinct characters.

* Classification — reference ``parser.go:143-171``: ``is_command`` = clean
  content starts with ``"$ "``; ``is_group`` = clean content starts with
  ``~~~`` / ``---`` / ``+++``; ``is_progress`` = *raw* content contains
  ``[K`` AND clean content contains ``objects``/``deltas``/``%``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ``^ESC_bk;t=`` then the (possibly empty, possibly non-numeric) timestamp
# span, then the first BEL.  Patterns hold the *actual* control characters so
# the same string works as a Java regex and (with \x escapes) in RE2.
OSC_PREFIX_PATTERN = "^\x1b_bk;t=([^\x07]*)\x07"

# Branch 1: ESC[ + any non-letters + optionally one letter (EOS tolerance).
# Branch 2: ESC-less [ + 0-8 digits/semicolons + one ASCII letter (the
# reference's 10-byte lookahead bounds the digit span to 8).
ANSI_PATTERN = "\x1b\\[[^A-Za-z]*[A-Za-z]?|\\[[0-9;]{0,8}[A-Za-z]"

# Go strconv.ParseInt accepts an optional sign.
TS_DIGITS_PATTERN = "^[+-]?[0-9]+$"


_OSC_PREFIX_TEXT = "\x1b_bk;t="
_BEL = "\x07"


def bel_position(raw: Column) -> Column:
    """1-based position of the first BEL, 0 when the line has none.

    Callers parsing several OSC fields from one line compute this once
    and pass it as ``bel`` to the functions below."""
    return F.instr(raw, _BEL)


def is_osc_line(raw: Column, bel: Column | None = None) -> Column:
    """True when the line carries a parseable OSC prefix (scanner.go:22-51).

    String ops instead of a regex — the Spark analog of the reference's
    byte parser (its README credits the byte machine with 10× over regex;
    the same holds for codegen'd ``startswith``/``instr`` vs ``rlike``).
    ``octet_length`` mirrors the reference's *byte* length guard; positions
    below are character-based and mutually consistent.  The prefix contains
    no BEL, so the first BEL anywhere is the delimiter.
    """
    if bel is None:
        bel = bel_position(raw)
    return (
        (F.octet_length(raw) >= 10)
        & raw.startswith(_OSC_PREFIX_TEXT)
        & (bel > 0)
    )


def osc_timestamp_str(raw: Column, bel: Column | None = None) -> Column:
    """Raw timestamp span between ``t=`` and the first BEL.

    Only meaningful under ``is_osc_line``; callers gate on it.  The prefix
    ``ESC_bk;t=`` is 7 characters, so the span is 1-based position 8 up to
    the first BEL (Go's 0-based ``timestampStart := 7``, scanner.go:42)."""
    if bel is None:
        bel = bel_position(raw)
    return raw.substr(F.lit(8), bel - 8)


def osc_content(
    raw: Column, osc: Column | None = None, bel: Column | None = None
) -> Column:
    """Content after the first BEL for OSC lines, the whole line otherwise.

    Trailing ``\\r`` and any embedded ANSI/OSC sequences are retained —
    parity requires *not* over-cleaning (scanner.go:63).  The substring
    runs to the end of the line with no length argument: a length would
    need ``length(raw)``, a second character walk over the whole line.
    """
    if bel is None:
        bel = bel_position(raw)
    if osc is None:
        osc = is_osc_line(raw, bel)
    return F.when(osc, F.substr(raw, bel + 1)).otherwise(raw)


def strip_ansi(content: Column) -> Column:
    """Remove ANSI escape sequences (scanner.go:94-151 byte machine)."""
    return F.regexp_replace(content, ANSI_PATTERN, "")


def is_command(clean_content: Column) -> Column:
    """Clean content starts with ``"$ "`` (parser.go:143-146)."""
    return clean_content.startswith("$ ")


def is_group_header(clean_content: Column) -> Column:
    """Clean content starts with ``~~~``/``---``/``+++`` (parser.go:168-171)."""
    return (
        clean_content.startswith("~~~")
        | clean_content.startswith("---")
        | clean_content.startswith("+++")
    )


def is_progress(content: Column, clean_content: Column) -> Column:
    """Raw content has ``[K`` and clean content looks like git progress
    (parser.go:152-165)."""
    return content.contains("[K") & (
        clean_content.contains("objects")
        | clean_content.contains("deltas")
        | clean_content.contains("%")
    )


def truncate_string(col: Column, max_len: int) -> Column:
    """``s[:max_len-3] + "..."`` when longer than ``max_len``
    (query_cli.go:506-514)."""
    return F.when(
        F.length(col) > max_len,
        F.concat(F.substring(col, 1, max_len - 3), F.lit("...")),
    ).otherwise(col)
