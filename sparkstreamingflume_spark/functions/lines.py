"""Delimited-line scalar operators (the DesenPross library, Spark-first).

The reference applies these per record inside ``map`` closures
(reference src/DesenPross.scala); here each is a Catalyst column expression
over the split array. Every operator is built from expressions that
whole-stage codegen compiles: the mask and drop kernels splice the array
with constant ``slice`` bounds around the listed indices instead of an
indexed ``transform``/``filter`` lambda, which Spark evaluates interpreted
once per array element (on the 97-field CDR lines the lambda and the
trailing-separator regex were most of the per-line cost). The split is
staged once and shared by all downstream ops on the same line (the
reference recomputed it up to 3x per field — src/DesenPross.scala:128-134;
see the staging note below for why CSE alone does not do it).

Mapping (SURVEY.md §2.2):
  P3  field_extract   colRey           src/DesenPross.scala:53-64
  P4  mask_fields     strRen           src/DesenPross.scala:94-115
  P5  mask_fields     strRens          src/DesenPross.scala:146-153
  P6  drop_fields     strReplace       src/DesenPross.scala:123-142
  P7  drop_fields     strReplaces      src/DesenPross.scala:157-165
  P8  project_fields  processData      src/DesenPross.scala:167-176
  P9  dirty_filter    length guard     src/ProcessSums.scala:435
  P10 F.md5           MD5.toDigest     src/MD5.java:24-33
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

ERROR_SENTINEL = "ERROR"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def line_fields(line: Column | str, sep: str = "|") -> Column:
    """Split a delimited line into its field array (shared by all ops).

    Matches Java/Scala ``split(sep, 0)`` semantics — trailing empty fields
    are dropped (the reference's GPRS sample line ends in ``|`` and still
    splits to 44 fields, src/DesenPross.scala:181). Spark's ``split`` uses
    limit=-1 (keeps trailing empties), so we strip the trailing separator
    run first. A one-character separator is stripped with
    ``rtrim(sep, line)``, which removes exactly the trailing run of that
    character and runs codegen'd without a regex. A longer separator
    strips with the regex ``(?:<sep>)+\\z``, which removes whole trailing
    separators; ``rtrim`` cannot express that (it trims a character
    SET). The regex anchors on ``\\z`` (Java end-of-input), NOT ``$``:
    Java-regex ``$`` also matches *before* a final line terminator, so a
    CR/CRLF-terminated record (``'a|b|\\r'`` — the normal case for a CDR
    feed read off FTP/socket) would mis-split under ``$`` (the trailing
    ``|`` is deleted and ``\\r`` merges into the prior field; Scala
    ``split`` keeps it as its own field). ``rtrim`` stops at the ``\\r``
    the same way. DuckDB oracles apply
    ``regexp_replace(line, '<sep>+$', '')`` — RE2's ``$`` is already
    end-of-text, so both engines implement the same semantics.
    """
    sep_re = re.escape(sep)
    if len(sep) == 1:
        stripped = F.rtrim(_col(line), F.lit(sep))
    else:
        stripped = F.regexp_replace(_col(line), f"(?:{sep_re})+\\z", "")
    return F.split(stripped, sep_re)


# The *_arr forms take an ALREADY-SPLIT field array instead of the raw
# line. Query builders stage the split once (functions/barrier.py
# stage_columns) and feed the staged column here: Catalyst's
# subexpression elimination does NOT hoist a split referenced from
# under CASE WHEN branches (conditional subexpressions are excluded
# from CSE), so the line-based forms re-evaluated the split per field
# reference. Round-13 measurements at sf0.1: q_project_44to10 3.38 ->
# 0.80 s med (11 splits -> 1, plans/r13), q_dirty_filter 5.30 -> 0.82
# (here the win is PLACEMENT: the bare width filter was pushed below
# the widen exchange onto the single narrow scan task — the anchored
# staged filter stays above it), q_field_extract 1.25 -> 0.86
# interleaved A/B (2 splits -> 1). The single-reference mask/drop ops
# measured ~neutral under staging when they were transform()/filter()
# lambdas, which referenced the split once (mask1 1.35 -> 1.16, mask3
# 1.30 -> 1.28 A/B). The splice kernels below read the array once per
# slice and per masked field, so staging is what keeps them at one
# split. The line-based forms remain for one-shot use and tests.


def field_extract_arr(arr: Column, index: int) -> Column:
    """P3 over a staged field array — see :func:`field_extract`."""
    return F.when(F.size(arr) > index, arr[index]).otherwise(F.lit(ERROR_SENTINEL))


def field_extract(line: Column | str, index: int, sep: str = "|") -> Column:
    """P3 — field at ``index`` (0-based); out of range -> ``'ERROR'``.

    The reference's real out-of-range guard is the exception handler
    returning "ERROR" (src/DesenPross.scala:59-63; its explicit check has
    an off-by-one, SURVEY.md §2.8) — we implement the *effective* behavior:
    ``size(arr) > index ? arr[index] : 'ERROR'``.
    """
    return field_extract_arr(line_fields(line, sep), index)


def mask_fields(line: Column | str, indices: Iterable[int], sep: str = "|") -> Column:
    """P4/P5 — replace each field in ``indices`` with its MD5 hex digest.

    Spark's ``md5()`` is byte-identical to the reference's from-scratch
    RFC-1321 implementation for UTF-8 input (src/MD5.java:163-284). One
    splice of the split array replaces the reference's fold of repeated
    split/rebuild passes (src/DesenPross.scala:146-153).
    """
    return mask_fields_arr(line_fields(line, sep), indices, sep)


def _index_set(indices: Iterable[int]) -> list[int]:
    """Sorted distinct field indices; a negative index is a caller bug."""
    idx = sorted(set(indices))
    if idx and idx[0] < 0:
        raise ValueError(f"field indices must be >= 0, got {idx}")
    return idx


def _splice(arr: Column, idx: list[int], fill) -> Column:
    """``arr`` with each field at an index in ``idx`` (sorted, distinct)
    replaced by ``fill(i)`` — a one-element array, or None to drop it.

    The kept runs between the indices are constant-bound ``slice``s; only
    the tail's length depends on the row, clamped at 0 so an array shorter
    than the last index yields an empty tail instead of a slice error. A
    field past the array's end is a NULL ``get``, and ``array_join``
    skips NULL elements, so an index at or past the width adds nothing —
    the same result as the indexed lambda this replaces.
    """
    if not idx:
        return arr
    parts, start = [], 0  # start: first 0-based index not yet emitted
    for i in idx:
        if i > start:
            parts.append(F.slice(arr, start + 1, i - start))
        if fill is not None:
            parts.append(fill(i))
        start = i + 1
    parts.append(F.slice(arr, start + 1, F.greatest(F.size(arr) - start, F.lit(0))))
    return F.concat(*parts)


def mask_fields_arr(arr: Column, indices: Iterable[int], sep: str = "|") -> Column:
    """P4/P5 over a staged field array — see :func:`mask_fields`."""
    masked = _splice(arr, _index_set(indices), lambda i: F.array(F.md5(F.get(arr, i))))
    return F.array_join(masked, sep)


def drop_fields(line: Column | str, indices: Iterable[int], sep: str = "|") -> Column:
    """P6/P7 — remove the fields at ``indices``, re-join the rest.

    One splice around the sorted index set; the reference's
    descending-index shift compensation (src/DesenPross.scala:162,
    SURVEY.md §2.8) is unnecessary when all drops happen in one pass.
    """
    return drop_fields_arr(line_fields(line, sep), indices, sep)


def drop_fields_arr(arr: Column, indices: Iterable[int], sep: str = "|") -> Column:
    """P6/P7 over a staged field array — see :func:`drop_fields`."""
    return F.array_join(_splice(arr, _index_set(indices), None), sep)


def project_fields(
    line: Column | str, indices: Iterable[int], sep: str = "|", n_fields: int | None = None
) -> Column:
    """P8 — re-join the selected fields in the given order (``processData``
    emits fields 0,7,17,1,2,32,33,36,22,43 of a 44-field line,
    src/DesenPross.scala:172-173).

    Total like the reference: ``processData`` returns ``""`` for lines that
    are not exactly ``n_fields`` wide (src/DesenPross.scala:167-176) rather
    than throwing. ``F.get`` is NULL-safe out of range (plain ``arr[i]``
    raises under Spark 4 ANSI mode), and the width guard makes short lines
    map to the empty string.
    """
    return project_fields_arr(line_fields(line, sep), indices, sep, n_fields)


def project_fields_arr(
    arr: Column, indices: Iterable[int], sep: str = "|", n_fields: int | None = None
) -> Column:
    """P8 over a staged field array — see :func:`project_fields`."""
    idx = list(indices)
    projected = F.concat_ws(sep, *[F.get(arr, i) for i in idx])
    guard = F.size(arr) == n_fields if n_fields is not None else F.size(arr) > max(idx)
    return F.when(guard, projected).otherwise(F.lit(""))


def dirty_filter(line: Column | str, n_fields: int, sep: str = "|") -> Column:
    """P9 — boolean: split length equals the schema's expected count
    (src/ProcessSums.scala:435 via Process.line_length)."""
    return F.size(line_fields(line, sep)) == n_fields
