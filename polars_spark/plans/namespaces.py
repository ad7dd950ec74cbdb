"""Expression namespaces: ``.str`` / ``.dt`` / ``.list`` / ``.struct`` /
``.bin`` / ``.cat`` / ``.name`` — the polars scalar-function surface.

Reference registries (counts from the enums themselves):
- string:   polars-plan/src/dsl/function_expr/strings.rs:9   (48 fns)
- temporal: polars-plan/src/dsl/function_expr/datetime.rs:6  (45 fns)
- list:     polars-plan/src/dsl/function_expr/list.rs:6      (26 fns)
- struct:   polars-plan/src/dsl/function_expr/struct_.rs:6   (8 fns)
- binary:   polars-plan/src/dsl/function_expr/binary.rs:9    (13 fns)

Every lowering is a built-in ``pyspark.sql.functions`` composition (JVM
whole-stage codegen); nothing in this module creates a Python UDF.
polars semantic quirks are reproduced explicitly where Spark differs:
``extract`` returns null (not '') on no-match, ``weekday`` is ISO
Mon=1..Sun=7, ``strptime`` converts chrono %-codes to Java patterns, list
aggregates ignore nulls, etc.
"""

from __future__ import annotations

import re as _re
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, IntegralType, TimeType

from polars_spark.plans.expr import Expr, ExprContext, _dtype_to_spark, _to_expr

__all__ = [
    "StringNamespace",
    "DateTimeNamespace",
    "ListNamespace",
    "StructNamespace",
    "BinaryNamespace",
    "CatNamespace",
    "ExprNameNamespace",
    "element",
]


def element() -> Expr:
    """The current list element inside ``.list.eval(...)`` (polars pl.element)."""

    def fn(ctx: ExprContext) -> Column:
        el = getattr(ctx, "element_col", None)
        if el is None:
            raise ValueError("pl.element() is only valid inside .list.eval(...)")
        return el

    return Expr(fn, "element")


class _ElementContext(ExprContext):
    def __init__(self, base: ExprContext, element_col: Column, arr_col: Column | None = None):
        super().__init__(base.df, base.order_cols, base.grouped, preps=base.preps)
        self.element_col = element_col
        # the whole array, for element exprs that need the peer values
        # (rank, and friends) — polars list.eval runs the full expr language
        self.arr_col = arr_col


class _ElementAggContext(ExprContext):
    """list.agg / arr.agg resolution context: aggregate Expr nodes check
    ``element_agg`` and lower to array reductions over ``arr_col``
    (expr.py _element_agg)."""

    def __init__(self, base: ExprContext, arr_col: Column):
        super().__init__(base.df, base.order_cols, base.grouped, preps=base.preps)
        self.arr_col = arr_col
        self.element_agg = True
        # a bare pl.element() with no aggregate (list.agg(pl.element()))
        # degrades to identity over the array
        self.element_col = arr_col


def _rx_escape(s: str) -> str:
    return _re.escape(s)


def _java_template(v: str) -> str:
    """polars/rust replacement template -> Java Matcher template:
    ``${1}`` numbered-brace refs become ``$1`` (Java braces are
    named-group-only) and ``$$`` becomes a literal escaped dollar."""
    out = v.replace("$$", "\x00ESC\x00")
    out = _re.sub(r"\$\{(\d+)\}", r"$\1", out)
    return out.replace("\x00ESC\x00", "\\$")


# ---------------------------------------------------------------------------
# chrono (polars/rust strftime) -> Java DateTimeFormatter pattern


_CHRONO_TO_JAVA = {
    "%Y": "yyyy",
    "%y": "yy",
    "%m": "MM",
    "%b": "MMM",
    "%B": "MMMM",
    "%d": "dd",
    "%e": "d",
    "%j": "DDD",
    "%H": "HH",
    "%I": "hh",
    "%M": "mm",
    "%S": "ss",
    "%f": "SSSSSS",
    "%.f": ".SSSSSS",
    "%3f": "SSS",
    "%6f": "SSSSSS",
    "%9f": "SSSSSSSSS",
    "%p": "a",
    "%A": "EEEE",
    "%a": "EEE",
    "%z": "xx",
    "%:z": "xxx",
    # polars' "dialect-flexible" offset: +09:00 or +0900 — DateTimeFormatter
    # optional sections try each form
    "%#z": "[XXX][XX]",
    "%Z": "zz",
    "%%": "%",
    "%T": "HH:mm:ss",
    "%c": "EEE MMM d HH:mm:ss yyyy",
    "%D": "MM/dd/yy",
    "%F": "yyyy-MM-dd",
    "%R": "HH:mm",
}


def chrono_to_java(fmt: str) -> str:
    out = []
    i = 0
    while i < len(fmt):
        ch = fmt[i]
        if ch == "%":
            for k in ("%.f", "%3f", "%6f", "%9f", "%:z", "%#z"):
                if fmt.startswith(k, i):
                    out.append(_CHRONO_TO_JAVA[k])
                    i += len(k)
                    break
            else:
                key = fmt[i : i + 2]
                if key in _CHRONO_TO_JAVA:
                    out.append(_CHRONO_TO_JAVA[key])
                    i += 2
                else:
                    raise ValueError(f"unsupported chrono code {key!r} in {fmt!r}")
        elif ch.isalpha():
            out.append(f"'{ch}'")
            i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)



def _us(c: Column) -> Column:
    """unix_micros that tolerates TIMESTAMP_NTZ (session tz is UTC, so the
    cast is an identity reinterpretation)."""
    return F.unix_micros(c.cast("timestamp"))


class _NS:
    """Base: holds the parent expr, offers _map/_zip that keep agg-ness."""

    def __init__(self, expr: Expr):
        self._e = expr

    def _map(self, f, name: str | None = None) -> Expr:
        e = self._e
        return Expr(lambda ctx: f(e._resolve(ctx)), name or e._name, e._is_agg)



def _num_arg(v):
    """polars IntoExprColumn for numeric namespace params: Expr kept, bare
    string = COLUMN name, int stays a literal; returns (expr_or_none, int)
    — expr_or_none is None for plain literals (fast path unchanged)."""
    from polars_spark.plans.expr import _col_fn

    if isinstance(v, Expr):
        return v
    if isinstance(v, str):
        return _col_fn(v)
    if type(v).__name__ == "Series" and hasattr(v, "to_list"):
        # driver-local Series index: position-aligned literal column
        return _to_expr(v)
    return None


# ---------------------------------------------------------------------------
# .str


class StringNamespace(_NS):
    # -- length ------------------------------------------------------------
    def len_chars(self) -> Expr:
        return self._map(F.char_length)

    def len_bytes(self) -> Expr:
        return self._map(F.octet_length)

    def join(self, delimiter: str = "", *, ignore_nulls: bool = True) -> Expr:
        """Concatenate all values of the group into one string (agg) —
        order-preserving via the imploded list."""
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            arr = e.implode()._resolve(ctx)
            if ignore_nulls:
                arr = F.filter(arr, lambda v: v.isNotNull())
            return F.array_join(arr, delimiter)

        return Expr(fn, e._name, is_agg=True)

    def concat(self, delimiter: str = "", *, ignore_nulls: bool = True) -> Expr:
        """Deprecated polars alias of join."""
        return self.join(delimiter, ignore_nulls=ignore_nulls)

    def explode(self) -> Expr:
        """Agg context: all characters of the group's strings, flattened
        (polars str.explode = per-string char explosion; frame-level row
        explosion is LazyFrame.explode)."""
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            arr = e.implode()._resolve(ctx)
            return F.flatten(F.transform(arr, lambda s: F.split(s, "(?!^)(?=.)")))

        return Expr(fn, e._name, is_agg=True)

    def find_many(self, patterns: list[str], *, overlapping: bool = False) -> Expr:
        """polars str.find_many: start offsets of every occurrence of any
        LITERAL pattern (the reference uses Aho-Corasick).  Lowered with
        higher-order functions only — for each candidate position, a pattern
        matches iff the substring there equals it:

        - overlapping=True: filter over all positions x patterns.
        - overlapping=False: an aggregate fold that skips past each match
          (leftmost, first-listed pattern wins), like find_iter.

        Offsets are CHARACTER offsets (the reference reports byte offsets;
        identical for ASCII)."""
        pats = F.array(*[F.lit(p) for p in patterns])

        def fn(c):
            idx = F.sequence(F.lit(1), F.length(c))
            if overlapping:
                hits = F.flatten(
                    F.transform(
                        idx,
                        lambda i: F.transform(
                            F.filter(pats, lambda p: F.substring(c, i, F.length(p)) == p),
                            lambda p: i - 1,
                        ),
                    )
                )
                return hits.cast("array<bigint>")
            # non-overlapping: leftmost match, first-listed pattern wins,
            # then skip past the match — EXACTLY Java regex alternation
            # semantics (ordered alternatives, scan resumes after each
            # match).  Offsets are rebuilt from the split segments and the
            # matched strings with an O(matches) fold; the previous
            # per-character fold ran an interpreted filter-over-patterns
            # step at EVERY position (~10M steps for the sf0.1 document
            # corpus, 6.7s single pass — r13 probe).  Null text: split and
            # extract_all are null, so the fold and the result stay null,
            # matching the old sequence(1, length(null)) behavior.
            import re as _re

            alt = "|".join(_re.escape(p) for p in patterns)
            hits = F.regexp_extract_all(c, F.lit(f"({alt})"), 1)
            segs = F.split(c, alt, -1)
            pairs = F.arrays_zip(
                F.transform(F.slice(segs, 1, F.size(hits)), F.length).alias("s"),
                F.transform(hits, F.length).alias("h"),
            )
            init = F.named_struct(
                F.lit("pos"),
                F.lit(0).cast("bigint"),
                F.lit("acc"),
                F.array().cast("array<bigint>"),
            )

            def step(acc, x):
                off = acc["pos"] + x["s"].cast("bigint")
                return F.named_struct(
                    F.lit("pos"),
                    off + x["h"].cast("bigint"),
                    F.lit("acc"),
                    F.concat(acc["acc"], F.array(off)),
                )

            return F.aggregate(pairs, init, step, lambda acc: acc["acc"])

        return self._map(fn)

    def extract_many(self, patterns: list[str], *, overlapping: bool = False) -> Expr:
        """All occurrences of any of the LITERAL patterns, in order —
        lowered as an escaped-alternation regexp_extract_all (the polars
        impl is Aho-Corasick; same result set for non-overlapping
        matches)."""
        import re as _re

        alt = "|".join(_re.escape(p) for p in patterns)
        return self._map(lambda c: F.regexp_extract_all(c, F.lit(f"({alt})"), 1))

    # -- case ----------------------------------------------------------------
    def to_lowercase(self) -> Expr:
        return self._map(F.lower)

    def to_uppercase(self) -> Expr:
        return self._map(F.upper)

    def to_titlecase(self) -> Expr:
        return self._map(F.initcap)

    # -- predicates ------------------------------------------------------------
    def contains(self, pattern, *, literal: bool = False, strict: bool = True) -> Expr:
        if isinstance(pattern, Expr) or not literal and not isinstance(pattern, str):
            p = _to_expr(pattern)
            if literal:
                return Expr(
                    lambda ctx: F.contains(self._e._resolve(ctx), p._resolve(ctx)),
                    self._e._name,
                )
            return Expr(
                lambda ctx: F.regexp_like(self._e._resolve(ctx), p._resolve(ctx)),
                self._e._name,
            )
        if literal:
            return self._map(lambda c: F.contains(c, F.lit(pattern)))
        return self._map(lambda c: F.regexp_like(c, F.lit(pattern)))

    def contains_any(self, patterns, *, ascii_case_insensitive: bool = False) -> Expr:
        def fn(ctx):
            c = self._e._resolve(ctx)
            if ascii_case_insensitive:
                c = F.lower(c)
            out = F.lit(False)
            for p in patterns:
                q = p.lower() if ascii_case_insensitive else p
                out = out | F.contains(c, F.lit(q))
            return out

        return Expr(fn, self._e._name)

    def starts_with(self, prefix) -> Expr:
        p = _to_expr(prefix)
        return Expr(
            lambda ctx: F.startswith(self._e._resolve(ctx), p._resolve(ctx)), self._e._name
        )

    def ends_with(self, suffix) -> Expr:
        p = _to_expr(suffix)
        return Expr(
            lambda ctx: F.endswith(self._e._resolve(ctx), p._resolve(ctx)), self._e._name
        )

    def find(self, pattern, *, literal: bool = False, strict: bool = True) -> Expr:
        if not isinstance(pattern, (str, Expr)):
            pattern = _to_expr(pattern)  # Series and other exprables
        if isinstance(pattern, Expr):
            e = self._e

            def fn(ctx):
                c, p = e._resolve(ctx), pattern._resolve(ctx)
                hit = (
                    F.call_function("locate", p, c)
                    if literal
                    else F.regexp_instr(c, p)
                )
                return F.when(hit > 0, hit - 1)

            return Expr(fn, e._name)
        if literal:
            return self._map(
                lambda c: F.when(
                    F.locate(pattern, c) > 0, F.locate(pattern, c) - 1
                )
            )
        return self._map(
            lambda c: F.when(
                F.regexp_instr(c, F.lit(pattern)) > 0, F.regexp_instr(c, F.lit(pattern)) - 1
            )
        )

    def count_matches(self, pattern, *, literal: bool = False) -> Expr:
        pat = _rx_escape(pattern) if literal else pattern
        return self._map(lambda c: F.regexp_count(c, F.lit(pat)))

    # -- extract ------------------------------------------------------------
    def extract(self, pattern: str, group_index: int = 1) -> Expr:
        # polars: null on no-match (Spark regexp_extract gives '')
        return self._map(
            lambda c: F.when(
                F.regexp_like(c, F.lit(pattern)),
                F.regexp_extract(c, pattern, group_index),
            )
        )

    def extract_all(self, pattern: str) -> Expr:
        return self._map(lambda c: F.regexp_extract_all(c, F.lit(pattern), 0))

    def extract_groups(self, pattern: str) -> Expr:
        """All capture groups as one struct; field names are the group names
        (named groups) or 1-based indices, null fields on no-match."""
        # Java spells named groups (?<name>...), Python (?P<name>...) —
        # normalize each side to its own dialect (lookbehinds untouched)
        py_pattern = _re.sub(r"\(\?<([A-Za-z])", r"(?P<\1", pattern)
        compiled = _re.compile(py_pattern)
        names = {v: k for k, v in compiled.groupindex.items()}
        fields = [(i, names.get(i, str(i))) for i in range(1, compiled.groups + 1)]
        pattern = pattern.replace("(?P<", "(?<")

        def fn(c):
            matched = F.regexp_like(c, F.lit(pattern))
            return F.struct(
                *[
                    F.when(matched, F.regexp_extract(c, pattern, i)).alias(nm)
                    for i, nm in fields
                ]
            )

        return self._map(fn)

    # -- replace ------------------------------------------------------------
    def replace(self, pattern: str, value: str, *, literal: bool = False, n: int = 1) -> Expr:
        """Replace the first ``n`` matches (polars function_expr/strings.rs
        Replace).  n=1 (default) supports $N group refs in ``value``; n>1
        lowers to split(limit=n+1) + array_join, which replaces exactly the
        first n occurrences of the ORIGINAL string but cannot carry group
        refs (the matched text is consumed by the split)."""
        if n < 0:
            return self.replace_all(pattern, value, literal=literal)
        if n != 1:
            rx = _rx_escape(pattern) if literal else pattern
            if literal or "$" not in value:
                return self._map(lambda c: F.array_join(F.split(c, rx, n + 1), value))
            # group refs with n>1: split(limit=n+1) yields the segments
            # BETWEEN the first n matches of the ORIGINAL string (the last
            # segment keeps any further matches untouched — exact polars
            # left-to-right replacen semantics, replacements never
            # rescanned), and regexp_extract_all(c, rx, k) yields group k
            # of every match to fill each $k in the template
            import re as _re

            pieces = _re.split(r"\$(\d)", value)  # text, ref, text, ref, ...

            def fn(c):
                parts = F.split(c, rx, n + 1)
                nseg = F.size(parts)
                groups = {
                    int(g): F.regexp_extract_all(c, F.lit(rx), int(g))
                    for g in pieces[1::2]
                }
                out = [F.get(parts, 0)]
                for i in range(n):
                    repl = [
                        F.get(groups[int(p)], i) if j % 2 else F.lit(p)
                        for j, p in enumerate(pieces)
                    ]
                    seg = F.concat(*repl, F.get(parts, i + 1))
                    out.append(F.when(F.lit(i) < nseg - 1, seg).otherwise(F.lit("")))
                return F.concat(*out)

            return self._map(fn)
        if literal:
            def fn(c):
                pos = F.locate(pattern, c)
                return F.when(
                    pos > 0,
                    F.concat(
                        F.substring(c, F.lit(1), pos - 1),
                        F.lit(value),
                        F.substring(c, pos + len(pattern), F.length(c)),
                    ),
                ).otherwise(c)

            return self._map(fn)
        # First-match-only regex: capture the tail in a NAMED group so user
        # capture groups keep their numbering, and re-emit it.  The value is
        # passed through untouched, so polars-style $1/${name} group refs in
        # the replacement keep working (Java replacement semantics).
        jvalue = _java_template(value)
        return self._map(
            lambda c: F.regexp_replace(
                c, f"(?s)(?:{pattern})(?<psTail>.*)$", jvalue + "${psTail}"
            )
        )

    def replace_all(self, pattern: str, value: str, *, literal: bool = False) -> Expr:
        if literal:
            return self._map(lambda c: F.replace(c, F.lit(pattern), F.lit(value)))
        jvalue = _java_template(value)
        return self._map(lambda c: F.regexp_replace(c, pattern, jvalue))

    def replace_many(self, patterns, replacements=None, *, ascii_case_insensitive: bool = False, leftmost: bool = False) -> Expr:
        """leftmost=True prefers the leftmost match per position (reference
        aho-corasick LeftmostFirst); the sequential-replace lowering applies
        patterns in order, which matches when patterns don't overlap."""
        from polars_spark.series import Series as _S

        if isinstance(patterns, _S):
            patterns = patterns.to_list()
        if isinstance(replacements, _S):
            replacements = replacements.to_list()
        if isinstance(patterns, dict):
            # polars accepts a single mapping {pattern: replacement}
            patterns, replacements = list(patterns.keys()), list(patterns.values())
        if replacements is None:
            raise TypeError("replace_many needs replacements (or a dict of patterns)")
        if ascii_case_insensitive:
            import re as _re

            rx = "(?i)" + "|".join(_re.escape(p) for p in patterns)
            if isinstance(replacements, str) or len(set(replacements)) == 1:
                rep = replacements if isinstance(replacements, str) else replacements[0]
                return self._map(lambda c: F.regexp_replace(c, rx, rep))
            msg = "replace_many: ascii_case_insensitive with distinct replacements"
            raise NotImplementedError(msg)
        if isinstance(replacements, str):
            replacements = [replacements] * len(patterns)

        def fn(c):
            out = c
            for p, r in zip(patterns, replacements):
                out = F.replace(out, F.lit(p), F.lit(r))
            return out

        return self._map(fn)

    # -- strip / pad ------------------------------------------------------------
    def strip_chars(self, characters: str | None = None) -> Expr:
        if characters is None:
            return self._map(F.trim)
        return self._map(lambda c: F.btrim(c, F.lit(characters)))

    def strip_chars_start(self, characters: str | None = None) -> Expr:
        if characters is None:
            return self._map(F.ltrim)
        cls = _rx_escape(characters).replace("]", "\\]")
        return self._map(lambda c: F.regexp_replace(c, f"^[{cls}]+", ""))

    def strip_chars_end(self, characters: str | None = None) -> Expr:
        if characters is None:
            return self._map(F.rtrim)
        cls = _rx_escape(characters).replace("]", "\\]")
        return self._map(lambda c: F.regexp_replace(c, f"[{cls}]+$", ""))

    def strip_prefix(self, prefix: str) -> Expr:
        n = len(prefix)
        return self._map(
            lambda c: F.when(
                F.startswith(c, F.lit(prefix)), F.substring(c, n + 1, F.length(c))
            ).otherwise(c)
        )

    def strip_suffix(self, suffix: str) -> Expr:
        n = len(suffix)
        return self._map(
            lambda c: F.when(
                F.endswith(c, F.lit(suffix)), F.substring(c, F.lit(1), F.length(c) - n)
            ).otherwise(c)
        )

    def pad_start(self, length: int, fill_char: str = " ") -> Expr:
        return self._map(lambda c: F.lpad(c, length, fill_char))

    def pad_end(self, length: int, fill_char: str = " ") -> Expr:
        return self._map(lambda c: F.rpad(c, length, fill_char))

    def zfill(self, length) -> Expr:
        le = _num_arg(length)
        if le is not None:
            e = self._e

            def fnc(ctx):
                c, n = e._resolve(ctx), le._resolve(ctx).cast("int")
                neg = F.startswith(c, F.lit("-"))
                body = F.when(neg, F.substring(c, 2, F.length(c))).otherwise(c)
                pad = F.repeat(F.lit("0"), F.greatest(n - F.length(c), F.lit(0)))
                filled = F.when(
                    neg, F.concat(F.lit("-"), pad, body)
                ).otherwise(F.concat(pad, c))
                return F.when(F.length(c) >= n, c).otherwise(filled)

            return Expr(fnc, e._name)

        def fn(c):
            neg = F.startswith(c, F.lit("-"))
            body = F.when(neg, F.substring(c, 2, F.length(c))).otherwise(c)
            padded = F.lpad(body, length - 1, "0")
            return F.when(F.length(c) >= length, c).otherwise(
                F.when(neg, F.concat(F.lit("-"), padded)).otherwise(F.lpad(c, length, "0"))
            )

        return self._map(fn)

    # -- slice ------------------------------------------------------------
    def slice(self, offset, length=None) -> Expr:
        oe, le = _num_arg(offset), _num_arg(length)
        if oe is not None or le is not None:
            e = self._e

            def fn(ctx):
                c = e._resolve(ctx)
                off = (oe._resolve(ctx) if oe is not None else F.lit(offset)).cast("int")
                n = (
                    le._resolve(ctx).cast("int")
                    if le is not None
                    else F.lit(length if length is not None else (1 << 30))
                )
                pos = F.when(off >= 0, off + 1).otherwise(off)
                return c.substr(pos, n)

            return Expr(fn, e._name)
        n = length if length is not None else (1 << 30)
        pos = offset + 1 if offset >= 0 else offset
        return self._map(lambda c: c.substr(F.lit(pos), F.lit(n)))

    def head(self, n) -> Expr:
        return self.slice(0, n)

    def tail(self, n) -> Expr:
        ne = _num_arg(n)
        if ne is not None:
            e = self._e

            def fn(ctx):
                c, k = e._resolve(ctx), ne._resolve(ctx).cast("int")
                return F.when(F.length(c) <= k, c).otherwise(c.substr(-k, k))

            return Expr(fn, e._name)
        return self._map(lambda c: F.when(F.length(c) <= n, c).otherwise(c.substr(-n, n)))

    def reverse(self) -> Expr:
        return self._map(F.reverse)

    # -- split ------------------------------------------------------------
    def split(self, by, *, inclusive: bool = False, literal: bool | None = None) -> Expr:
        if isinstance(by, Expr):
            # per-row separator column; literal=False treats it as a regex
            e = self._e

            def fn(ctx):
                c, p = e._resolve(ctx), by._resolve(ctx)
                if literal is False:
                    pat = p  # the separator column IS a regex
                else:
                    # literal separator: escape regex metacharacters
                    pat = F.regexp_replace(p, r"([.^$*+?()\[\]{}|\\])", r"\\$1")
                return F.split(c, pat, -1)

            return Expr(fn, e._name)
        if inclusive:
            # every element but the last keeps its trailing separator
            # (function_expr/strings.rs SplitInclusive); the separator is a
            # literal, so re-appending it is exact
            def fn(c):
                arr = F.split(c, _rx_escape(by), -1)
                sz = F.size(arr)
                return F.transform(
                    arr,
                    lambda x, i: F.when(i < sz - 1, F.concat(x, F.lit(by))).otherwise(x),
                )

            return self._map(fn)
        return self._map(lambda c: F.split(c, _rx_escape(by), -1))

    def split_exact(self, by: str, n: int) -> Expr:
        def fn(c):
            arr = F.split(c, _rx_escape(by), -1)
            return F.struct(
                *[F.get(arr, i).alias(f"field_{i}") for i in range(n + 1)]
            )

        return self._map(fn)

    def splitn(self, by: str, n: int) -> Expr:
        def fn(c):
            arr = F.split(c, _rx_escape(by), n)
            return F.struct(
                *[F.get(arr, i).alias(f"field_{i}") for i in range(n)]
            )

        return self._map(fn)

    # -- conversions ------------------------------------------------------------
    def to_integer(self, *, base: int = 10, dtype=None, strict: bool = True) -> Expr:
        t = _dtype_to_spark(dtype) if dtype is not None else "bigint"
        if base == 10:
            return self._map(
                lambda c: c.cast(t) if strict else c.try_cast(t)
            )
        def fn(c):
            out = F.conv(c, base, 10).cast(t)
            if not strict:
                # conv never raises; mask inputs with invalid digits
                valid = c.rlike({2: "^[01]+$", 8: "^[0-7]+$", 16: "^[0-9a-fA-F]+$"}.get(base, ".*"))
                out = F.when(valid, out)
            return out
        return self._map(fn)

    def strptime(self, dtype: str = "Datetime", format: str | None = None, *, strict: bool = True) -> Expr:
        java = chrono_to_java(format) if format else None
        if java and "EEE" in java:
            # Spark's CORRECTED-mode parser rejects day-name tokens (EEE) on
            # the PARSE side — the weekday is redundant for the instant, so
            # strip it from both the pattern and the input (ctime-style %c)
            java = java.replace("EEE ", "").replace("EEE", "")
            parent = self._e

            def _strip(ctx):
                # weekday tokens can sit anywhere in the input (%a/%A are
                # not always leading); month abbreviations never collide
                # with the 7 day names
                c = parent._resolve(ctx)
                days = r"(?i)\b(sun|mon|tue|wed|thu|fri|sat)[a-z]*,?\s*"
                return F.regexp_replace(
                    F.regexp_replace(c, days, ""), r"\s+", " "
                )

            self = StringNamespace(Expr(_strip, parent._name))
        key = dtype if isinstance(dtype, str) else getattr(dtype, "__name__", str(dtype))
        # no explicit format: polars INFERS — try ISO first, then the
        # common separators (all JVM-side try_* forms, first hit wins)
        _DATE_GUESSES = ["yyyy/MM/dd", "MM/dd/yyyy", "dd-MM-yyyy", "yyyy.MM.dd", "dd.MM.yyyy"]
        if key in ("Date",):
            if java:
                if not strict:
                    return self._map(
                        lambda c: F.try_to_timestamp(c, F.lit(java)).cast("date")
                    )
                return self._map(lambda c: F.to_date(c, java))
            return self._map(
                lambda c: F.coalesce(
                    F.try_to_timestamp(c).cast("date"),
                    *[F.try_to_timestamp(c, F.lit(f)).cast("date") for f in _DATE_GUESSES],
                )
            )
        if key in ("Datetime", "Timestamp"):
            if java:
                if not strict:
                    return self._map(lambda c: F.try_to_timestamp(c, F.lit(java)))
                return self._map(lambda c: F.to_timestamp(c, java))
            return self._map(
                lambda c: F.coalesce(
                    F.try_to_timestamp(c),
                    *[
                        F.try_to_timestamp(c, F.lit(f"{f} HH:mm:ss"))
                        for f in _DATE_GUESSES
                    ],
                    *[F.try_to_timestamp(c, F.lit(f)) for f in _DATE_GUESSES],
                )
            )
        if key == "Time":
            # Time -> nanoseconds since midnight (SURVEY §1.2 Time mapping)
            def fn(c):
                ts = F.to_timestamp(F.concat(F.lit("1970-01-01 "), c), f"yyyy-MM-dd {java or 'HH:mm:ss'}")
                return (_us(ts) * 1000).cast("bigint")

            return self._map(fn)
        raise ValueError(f"strptime to {dtype!r}")

    def to_date(self, format: str | None = None, *, strict: bool = True) -> Expr:
        return self.strptime("Date", format, strict=strict)

    def to_datetime(self, format: str | None = None, *, strict: bool = True, time_unit=None, time_zone=None) -> Expr:
        return self.strptime("Datetime", format, strict=strict)

    def to_time(self, format: str | None = None, *, strict: bool = True) -> Expr:
        return self.strptime("Time", format, strict=strict)

    def to_decimal(self, scale: int = 10) -> Expr:
        return self._map(lambda c: c.cast(f"decimal(38,{scale})"))

    # -- json ------------------------------------------------------------
    def json_decode(self, dtype: str | None = None, *, infer_schema_length=None) -> Expr:
        """dtype: Spark DDL schema string, e.g. 'a INT, b STRING' or
        'array<int>'.  With no dtype the schema is INFERRED from a sample of
        the data (one bounded driver job over ``infer_schema_length`` rows,
        default 100 — polars' json_decode inference also reads the values)."""
        if dtype is not None:
            if not isinstance(dtype, str):
                # polars dtype objects (pl.List(pl.Int64), pl.Struct...) ->
                # the Spark DDL mapping
                dtype = _dtype_to_spark(dtype)
            return self._map(lambda c: F.from_json(c, dtype))
        e = self._e
        n = int(infer_schema_length or 100)

        def fn(ctx) -> "F.Column":
            c = e._resolve(ctx)
            sample = [
                r[0]
                for r in ctx.df.select(c.alias("__j")).filter(F.col("__j").isNotNull()).limit(n).collect()
            ]
            if not sample:
                return F.from_json(c, "string")
            spark = ctx.df.sparkSession
            ddl = (
                spark.range(1)
                .select(F.schema_of_json(F.lit(max(sample, key=len))).alias("s"))
                .first()[0]
            )
            return F.from_json(c, ddl)

        return Expr(fn, e._name, e._is_agg)

    def json_path_match(self, json_path: str) -> Expr:
        return self._map(lambda c: F.get_json_object(c, json_path))

    # -- encode / decode ------------------------------------------------------------
    def encode(self, encoding: str) -> Expr:
        if encoding == "hex":
            return self._map(lambda c: F.lower(F.hex(c.cast("binary"))))
        if encoding == "base64":
            return self._map(lambda c: F.base64(c.cast("binary")))
        raise ValueError(encoding)

    def decode(self, encoding: str, *, strict: bool = True) -> Expr:
        if encoding == "hex":
            return self._map(F.unhex)
        if encoding == "base64":
            return self._map(F.unbase64)
        raise ValueError(encoding)


    # -- misc ------------------------------------------------------------
    def normalize(self, form: str = "NFC") -> Expr:
        """Unicode normalization via stdlib unicodedata, shipped as an
        Arrow-batched pandas_udf (the one .str op with no JVM builtin)."""
        if form not in ("NFC", "NFD", "NFKC", "NFKD"):
            raise ValueError(form)

        def fn(c):
            from pyspark.sql.functions import pandas_udf

            @pandas_udf("string")
            def _norm(s):
                import unicodedata

                return s.map(lambda v: unicodedata.normalize(form, v) if v is not None else None)

            return _norm(c)

        return self._map(fn)

    def escape_regex(self) -> Expr:
        return self._map(
            lambda c: F.regexp_replace(c, r"([.^$*+?()\[\]{}|\\])", r"\\$1")
        )


# ---------------------------------------------------------------------------
# .dt


def _is_time_col(ctx, c):
    """Whether a resolved column is Spark native TIME (the polars Time
    dtype)."""
    return ctx.may_be(c, ("time",)) and isinstance(ctx.dtype(c)[0], TimeType)


def _time_sec_frac(c):
    """Decimal seconds (incl. fraction) of a native TIME column."""
    return F.split(c.cast("string"), ":")[2].cast("decimal(16,9)")


class DateTimeNamespace(_NS):

    def min(self) -> Expr:
        """Earliest value (reference Series.dt.min) — a plain aggregate."""
        return self._e.min()

    def max(self) -> Expr:
        """Latest value (reference Series.dt.max) — a plain aggregate."""
        return self._e.max()

    def year(self) -> Expr:
        return self._map(F.year)

    def century(self) -> Expr:
        return self._map(lambda c: ((F.year(c) - 1) / 100 + 1).cast("int"))

    def millennium(self) -> Expr:
        return self._map(lambda c: ((F.year(c) - 1) / 1000 + 1).cast("int"))

    def days_in_month(self) -> Expr:
        return self._map(lambda c: F.dayofmonth(F.last_day(c)))

    def is_business_day(self, *, week_mask=(True, True, True, True, True, False, False), holidays=()) -> Expr:
        """Business-day test (reference polars-time business.rs): ISO
        weekday mask Mon..Sun + explicit holiday dates, all JVM-side."""
        allowed = [i + 1 for i, b in enumerate(week_mask) if b]
        hol = [str(d) for d in holidays]

        def fn(c):
            cond = ((F.dayofweek(c) + 5) % 7 + 1).isin(allowed)
            if hol:
                cond = cond & ~F.to_date(c).cast("string").isin(hol)
            return cond

        return self._map(fn)

    def add_business_days(self, n, *, week_mask=(True, True, True, True, True, False, False), holidays=(), roll: str = "raise") -> Expr:
        """Add n business days (literal int OR expression) with week_mask
        Mon..Sun and explicit holidays (reference polars-time business.rs):
        generate the candidate day window, keep business days, take the
        nth — all JVM-side array ops, no UDF.  ``roll`` adjusts a
        non-business start ('forward'/'backward'; 'raise' is not
        row-expressible — the next business day stands in, documented).
        For an expression n the window spans both directions."""
        allowed = [i + 1 for i, b in enumerate(week_mask) if b]
        hol = [str(d) for d in holidays]
        slack = 14 + 2 * len(hol)

        def is_biz(x):
            cond = ((F.dayofweek(x) + 5) % 7 + 1).isin(allowed)
            if hol:
                cond = cond & ~x.cast("string").isin(hol)
            return cond

        def rolled_start(d):
            # first business day at-or-after d (forward / raise stand-in),
            # or at-or-before d (backward)
            if roll == "backward":
                win = F.reverse(F.sequence(F.date_sub(d, slack), d))
            else:
                win = F.sequence(d, F.date_add(d, slack))
            return F.element_at(F.filter(win, is_biz), 1)

        if isinstance(n, int):
            span = abs(n) * 2 + slack

            def fn(c):
                d0 = rolled_start(F.to_date(c))
                if n >= 0:
                    days = F.sequence(d0, F.date_add(d0, span))
                else:
                    days = F.reverse(F.sequence(F.date_sub(d0, span), d0))
                biz = F.filter(days, is_biz)
                return F.get(biz, abs(n))

            return self._map(fn)

        ne = _to_expr(n)

        def fn2(ctx: "ExprContext"):
            c = self._e._resolve(ctx)
            nn = ne._resolve(ctx).cast("int")
            d0 = rolled_start(F.to_date(c))
            span = F.abs(nn) * 2 + slack
            fwd = F.sequence(d0, F.date_add(d0, span))
            bwd = F.reverse(F.sequence(F.date_sub(d0, span), d0))
            days = F.when(nn >= 0, fwd).otherwise(bwd)
            biz = F.filter(days, is_biz)
            return F.get(biz, F.abs(nn))

        return Expr(fn2, self._e._name)

    def replace(self, *, year=None, month=None, day=None, hour=None, minute=None, second=None, microsecond=None) -> Expr:
        """Replace date/time components (reference dt.replace)."""

        def fn(c):
            ts = c.cast("timestamp")
            y = F.lit(year) if year is not None else F.year(ts)
            mo = F.lit(month) if month is not None else F.month(ts)
            d = F.lit(day) if day is not None else F.dayofmonth(ts)
            h = F.lit(hour) if hour is not None else F.hour(ts)
            mi = F.lit(minute) if minute is not None else F.minute(ts)
            us_in_min = _us(ts) % 60_000_000
            if second is not None or microsecond is not None:
                sec_part = F.lit(float(second or 0) + float(microsecond or 0) / 1e6)
            else:
                sec_part = us_in_min.cast("double") / 1e6
            return F.make_timestamp_ntz(y, mo, d, h, mi, sec_part)

        return self._map(fn)

    def datetime(self) -> Expr:
        """The value as Datetime (cast to timestamp)."""
        return self._map(lambda c: c.cast("timestamp_ntz"))

    def combine(self, time, time_unit: str = "us") -> Expr:
        """Date part + a time-of-day (bigint ns since midnight, the §1.2
        Time mapping, or a literal datetime.time) -> Datetime."""
        import datetime as _dt

        if isinstance(time, _dt.time):
            ns = (time.hour * 3600 + time.minute * 60 + time.second) * 1_000_000_000 + time.microsecond * 1000
            t = _to_expr(ns)
        else:
            t = _to_expr(time)

        def fn(ctx: ExprContext) -> Column:
            d = F.to_date(self._e._resolve(ctx))
            day_us = _us(d.cast("timestamp"))
            tns = t._resolve(ctx).cast("bigint")
            return F.timestamp_micros(day_us + F.floor(tns / 1000).cast("bigint"))

        return Expr(fn, self._e._name)

    def cast_time_unit(self, time_unit: str) -> Expr:
        """No-op: the Spark mapping stores every Datetime at fixed us
        precision (§1.2); ns inputs are normalized at scan time."""
        return self._e

    def with_time_unit(self, time_unit: str) -> Expr:
        raise NotImplementedError(
            "with_time_unit reinterprets the physical int64 under a different "
            "unit; the Spark mapping is fixed-us — use dt.timestamp() + "
            "arithmetic for reinterpretation"
        )

    def iso_year(self) -> Expr:
        # ISO year = calendar year of that week's Thursday
        def fn(c):
            wd = (F.dayofweek(c) + 5) % 7 + 1  # ISO weekday
            thursday = F.date_add(F.to_date(c), (4 - wd).cast("int"))
            return F.year(thursday)

        return self._map(fn)

    def quarter(self) -> Expr:
        return self._map(F.quarter)

    def month(self) -> Expr:
        return self._map(F.month)

    def week(self) -> Expr:
        return self._map(F.weekofyear)

    def weekday(self) -> Expr:
        # polars: ISO Mon=1..Sun=7 (polars-time/src/chunkedarray/datetime.rs:122)
        return self._map(lambda c: (F.dayofweek(c) + 5) % 7 + 1)

    def day(self) -> Expr:
        return self._map(F.dayofmonth)

    def ordinal_day(self) -> Expr:
        return self._map(F.dayofyear)

    def hour(self) -> Expr:
        return self._map(F.hour)

    def minute(self) -> Expr:
        return self._map(F.minute)

    def second(self, *, fractional: bool = False) -> Expr:
        if fractional:
            return self._map(
                lambda c: F.second(c).cast("double") + (_us(c) % 1_000_000) / 1e6
            )
        return self._map(lambda c: F.second(c))

    def _sub_second(self, scale: int, out: str) -> Expr:
        e = self._e

        def fn(ctx):
            c = e._resolve(ctx)
            if _is_time_col(ctx, c):
                frac = _time_sec_frac(c) % 1
                return (frac * scale).cast(out)
            return ((_us(c) % 1_000_000) * (scale // 1_000_000)).cast(out) if scale >= 1_000_000 else ((_us(c) % 1_000_000) / (1_000_000 // scale)).cast(out)

        return Expr(fn, e._name, e._is_agg)

    def millisecond(self) -> Expr:
        return self._sub_second(1_000, "int")

    def microsecond(self) -> Expr:
        return self._sub_second(1_000_000, "int")

    def nanosecond(self) -> Expr:
        return self._sub_second(1_000_000_000, "bigint")

    def date(self) -> Expr:
        return self._map(F.to_date)

    def time(self) -> Expr:
        """Time-of-day as the NATIVE Time dtype (reference dt.time();
        Spark has no timestamp->time cast, so format+parse JVM-side)."""
        e = self._e

        def fn(ctx):
            from polars_spark.session import ensure_time_type

            ensure_time_type(getattr(getattr(ctx, "df", None), "sparkSession", None))
            c = e._resolve(ctx)
            if _is_time_col(ctx, c):
                return c
            return F.date_format(c, "HH:mm:ss.SSSSSS").cast("time(6)")

        return Expr(fn, e._name, e._is_agg)

    def is_leap_year(self) -> Expr:
        def fn(c):
            y = F.year(c)
            return (y % 4 == 0) & ((y % 100 != 0) | (y % 400 == 0))

        return self._map(fn)

    # -- truncate / round / offset ------------------------------------------------
    _TRUNC_UNITS = {"1s": "second", "1m": "minute", "1h": "hour", "1d": "day", "1mo": "month", "1q": "quarter", "1y": "year", "1w": "week"}

    def truncate(self, every: str) -> Expr:
        """polars dt.truncate: arbitrary fixed durations via epoch math;
        calendar units via date_trunc."""
        if every in self._TRUNC_UNITS:
            unit = self._TRUNC_UNITS[every]
            return self._map(lambda c: F.date_trunc(unit, c))
        from polars_spark.plans.frame import _duration_us

        us = _duration_us(every)
        return self._map(
            lambda c: F.timestamp_micros((F.floor(_us(c) / us) * us).cast("bigint"))
        )

    def round(self, every: str) -> Expr:
        from polars_spark.plans.frame import _duration_us

        us = _duration_us(every)
        return self._map(
            lambda c: F.timestamp_micros(
                (F.floor((_us(c) + us / 2) / us) * us).cast("bigint")
            )
        )

    def offset_by(self, by: str) -> Expr:
        """Calendar-aware offset (polars dt.offset_by): months/years via
        add_months (saturating, like polars '1mo_saturating'), fixed parts
        via epoch micros."""
        from polars_spark.plans.frame import _parse_duration, _DUR_UNITS_US

        if isinstance(by, Expr):
            # per-row duration strings (reference offset_by(pl.col(...))):
            # unit counts extracted JVM-side, applied as one interval
            be = by
            e = self._e

            def fn_expr(ctx: "ExprContext"):
                c = e._resolve(ctx)
                s = F.replace(be._resolve(ctx), F.lit("_saturating"), F.lit(""))

                def unit(pat):
                    return F.coalesce(
                        F.nullif(F.regexp_extract(s, pat, 1), F.lit("")), F.lit("0")
                    ).cast("bigint")

                months = unit(r"(-?\d+)y") * 12 + unit(r"(-?\d+)mo") + unit(r"(-?\d+)q") * 3
                days = unit(r"(-?\d+)w") * 7 + unit(r"(-?\d+)d")
                hours = unit(r"(-?\d+)h")
                mins = unit(r"(-?\d+)m(?!o|s)")
                micros = (
                    unit(r"(-?\d+)us")
                    + unit(r"(-?\d+)ms") * 1000
                    + F.floor(unit(r"(-?\d+)ns") / 1000)
                )
                secs = unit(r"(-?\d+)s") + micros.cast("double") / 1e6
                return c.cast("timestamp") + F.make_interval(
                    F.lit(0), months.cast("int"), F.lit(0), days.cast("int"),
                    hours.cast("int"), mins.cast("int"), secs.cast("decimal(18,6)"),
                )

            return Expr(fn_expr, e._name)

        # polars' deprecated '_saturating' suffix: month arithmetic is
        # always saturating here (add_months), so the suffix is a no-op
        by = by.replace("_saturating", "")
        months = 0
        fixed_us = 0
        for n, unit in _parse_duration(by):
            if unit == "mo":
                months += n
            elif unit == "y":
                months += 12 * n
            elif unit == "q":
                months += 3 * n
            else:
                fixed_us += int(n * _DUR_UNITS_US[unit])

        def fn(c):
            out = c
            if months:
                tod = _us(out) - _us(F.date_trunc("DAY", out))
                d = F.add_months(F.to_date(out), months)
                out = F.timestamp_micros(_us(F.to_timestamp(d)) + tod)
            if fixed_us:
                out = F.timestamp_micros(_us(out) + fixed_us)
            return out

        return self._map(fn)

    def month_start(self) -> Expr:
        def fn(c):
            tod = _us(c) - _us(F.date_trunc("DAY", c))
            return F.timestamp_micros(_us(F.date_trunc("MONTH", c)) + tod)

        return self._map(fn)

    def month_end(self) -> Expr:
        def fn(c):
            tod = _us(c) - _us(F.date_trunc("DAY", c))
            d = F.last_day(F.to_date(c))
            return F.timestamp_micros(_us(F.to_timestamp(d)) + tod)

        return self._map(fn)

    # -- epoch / formatting ------------------------------------------------------------
    def epoch(self, time_unit: str = "us") -> Expr:
        tz = getattr(self._e, "_tz", None)
        # date columns promote to midnight timestamps (unix_* reject DATE)
        def inst(c, _tz=tz):
            c = c.cast("timestamp")
            return F.to_utc_timestamp(c, _tz) if _tz else c
        if time_unit == "us":
            return self._map(lambda c: _us(inst(c)))
        if time_unit == "ms":
            return self._map(lambda c: F.unix_millis(inst(c)))
        if time_unit == "s":
            return self._map(lambda c: _us(inst(c)) / 1_000_000)
        if time_unit == "ns":
            return self._map(lambda c: _us(inst(c)) * 1000)
        if time_unit == "d":
            return self._map(lambda c: F.datediff(F.to_date(c), F.lit("1970-01-01")))
        raise ValueError(time_unit)

    def timestamp(self, time_unit: str = "us") -> Expr:
        return self.epoch(time_unit)

    def strftime(self, format: str | None = None) -> Expr:
        if format is None or format in ("iso", "polars"):
            # reference to_string default / 'polars' repr: string rendering
            # (durations take Spark's interval repr)
            return self._map(lambda c: c.cast("string"))
        if format == "iso:strict":
            return self._map(lambda c: F.date_format(c, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
        return self._map(lambda c: F.date_format(c, chrono_to_java(format)))

    to_string = strftime

    # -- time zones ------------------------------------------------------------
    # Model (SURVEY §1.2: Spark timestamps carry no zone): a tz-aware value
    # is stored as its WALL time (so every dt.* extractor reads local parts
    # unchanged, like polars) with the zone carried as an Expr-level
    # annotation (``_tz``) consumed by the ops that need the true instant
    # (convert_time_zone, epoch).  The annotation survives direct chains
    # (col.dt.replace_time_zone(z).dt.hour()); it does not survive a
    # round-trip through a frame column, matching the mapping's documented
    # limits.
    def convert_time_zone(self, time_zone: str) -> Expr:
        src = getattr(self._e, "_tz", None)
        if src is not None:
            e = self._map(
                lambda c: F.from_utc_timestamp(F.to_utc_timestamp(c, src), time_zone)
            )
        else:
            # un-annotated input is treated as UTC-instant storage
            e = self._map(lambda c: F.from_utc_timestamp(c, time_zone))
        e._tz = time_zone  # type: ignore[attr-defined]
        return e

    def replace_time_zone(self, time_zone: str | None, *, ambiguous: str = "raise", non_existent: str = "raise") -> Expr:
        # polars: wall time PRESERVED, the zone (the instant) changes —
        # storage already holds the wall time, so this is an annotation
        e = self._map(lambda c: c)
        if time_zone is not None:
            e._tz = time_zone  # type: ignore[attr-defined]
        return e

    def _offset_parts(self, c: Column, time_zone: str):
        """(total_offset_secs JVM-side, dst_secs via zoneinfo pandas_udf)."""
        from pyspark.sql.functions import pandas_udf

        total = F.from_utc_timestamp(c, time_zone).cast("long") - c.cast("long")

        @pandas_udf("long")
        def dst_secs(s):
            import datetime as dt
            from zoneinfo import ZoneInfo

            z = ZoneInfo(time_zone)

            def one(x):
                if x is None or x != x:
                    return None
                d = x.to_pydatetime().replace(tzinfo=dt.timezone.utc).astimezone(z)
                off = d.dst()
                return int(off.total_seconds()) if off is not None else 0

            return s.map(one)

        return total, dst_secs(c)

    def base_utc_offset(self, time_zone: str | None = None) -> Expr:
        """Standard (non-DST) UTC offset at each instant, as a duration
        (reference: polars-time base_utc_offset; py-polars expr/datetime.py).
        polars reads the zone from the tz-aware Datetime dtype; our Datetime
        is tz-naive (SURVEY §1.2), so the zone is an explicit argument —
        the same convention as convert_time_zone.  base = total offset
        (JVM-side from_utc_timestamp delta) minus the DST component
        (IANA-exact via zoneinfo, Arrow-batched)."""
        tz = time_zone or getattr(self._e, "_tz", None) or "UTC"

        def mk(c: Column) -> Column:
            total, dst = self._offset_parts(c, tz)
            return F.make_dt_interval(secs=(total - dst).cast("double"))

        return self._map(mk)

    def dst_offset(self, time_zone: str | None = None) -> Expr:
        """Daylight-saving component of the UTC offset at each instant
        (reference: polars-time dst_offset) — IANA-exact via zoneinfo,
        Arrow-batched; see base_utc_offset for the explicit-zone rationale."""
        tz = time_zone or getattr(self._e, "_tz", None) or "UTC"

        def mk(c: Column) -> Column:
            _, dst = self._offset_parts(c, tz)
            return F.make_dt_interval(secs=dst.cast("double"))

        return self._map(mk)

    # -- duration totals (interval -> scalar via epoch-anchored add) -------------
    def _total(self, div_us: float) -> Expr:
        return self._map(
            lambda c: (_us(F.to_timestamp(F.lit("1970-01-01 00:00:00")) + c) / div_us).cast("bigint")
        )

    def total_days(self) -> Expr:
        return self._total(86_400_000_000)

    def total_hours(self) -> Expr:
        return self._total(3_600_000_000)

    def total_minutes(self) -> Expr:
        return self._total(60_000_000)

    def total_seconds(self) -> Expr:
        return self._total(1_000_000)

    def total_milliseconds(self) -> Expr:
        return self._total(1_000)

    def total_nanoseconds(self) -> Expr:
        def fn(ctx: ExprContext) -> Column:
            return (self._total(1)._resolve(ctx) * 1000).cast("bigint")

        return Expr(fn, self._e._name)

    def total_microseconds(self) -> Expr:
        return self._total(1)


# ---------------------------------------------------------------------------
# .list


class ListNamespace(_NS):
    def __getitem__(self, i):
        # pl.col("a").list[0] / list[1:3] (reference list.__getitem__)
        if isinstance(i, slice):
            start = i.start or 0
            length = None if i.stop is None else i.stop - start
            return self.slice(start, length)
        return self.get(i)

    def explode(self, *, empty_as_null: bool = True) -> Expr:
        """One output row per list element (reference expr/list.py:1200).
        Lowered to explode_outer, so null/empty lists yield a null row like
        polars (``empty_as_null=False`` drops them instead).  Spark permits
        ONE generator expression per select — for multi-column explodes use
        LazyFrame.explode(*columns)."""
        if not empty_as_null:
            return self._map(F.explode)
        return self._map(F.explode_outer)

    def len(self) -> Expr:
        return self._map(lambda c: F.when(c.isNotNull(), F.size(c)))

    def get(self, index, *, null_on_oob: bool = False) -> Expr:
        """Element at ``index`` (0-based, python-style negatives).  The
        reference DEFAULT null_on_oob=False RAISES on out-of-bounds
        (ComputeError); pass True for the null-padding form (first/last
        use it — reference list.py first: get(0, null_on_oob=True))."""
        from polars_spark.plans.expr import _gather_oob_guard

        ie = _num_arg(index)
        if ie is not None:
            e = self._e

            def fn(ctx):
                c, i = e._resolve(ctx), ie._resolve(ctx).cast("int")
                # 0-based positive, python-style negative: element_at is
                # 1-based and rejects 0
                val = F.try_element_at(c, F.when(i >= 0, i + 1).otherwise(i))
                return val if null_on_oob else _gather_oob_guard(c, i, val)

            return Expr(fn, e._name)
        idx = int(index)

        def m(c):
            val = F.get(c, idx) if idx >= 0 else F.try_element_at(c, F.lit(idx))
            return val if null_on_oob else _gather_oob_guard(c, F.lit(idx), val)

        return self._map(m)

    def first(self) -> Expr:
        return self.get(0, null_on_oob=True)

    def last(self) -> Expr:
        return self.get(-1, null_on_oob=True)

    def contains(self, item) -> Expr:
        it = _to_expr(item)
        return Expr(
            lambda ctx: F.array_contains(self._e._resolve(ctx), it._resolve(ctx)),
            self._e._name,
        )

    def index_of(self, element) -> Expr:
        """0-based index of the first matching element, null if absent
        (reference expr/list.py index_of) — array_position is 1-based with
        0-for-missing, so shift and nullif."""
        el = _to_expr(element)
        return Expr(
            lambda ctx: F.nullif(
                F.array_position(self._e._resolve(ctx), el._resolve(ctx)), F.lit(0)
            )
            - 1,
            self._e._name,
        )

    def drop_nulls(self) -> Expr:
        return self._map(lambda c: F.filter(c, lambda v: v.isNotNull()))

    def to_list(self) -> Expr:
        """Array -> List is an identity at this layer (§1.2 shared storage)."""
        return self._e

    def gather_every(self, n, offset=0) -> Expr:
        if isinstance(n, Expr) or isinstance(offset, Expr):
            # per-row n/offset expressions (reference list.gather_every)
            ne, oe = _to_expr(n), _to_expr(offset)
            e = self._e

            def fn(ctx: ExprContext) -> Column:
                c = e._resolve(ctx)
                nn = ne._resolve(ctx).cast("int")
                off = oe._resolve(ctx).cast("int")
                return F.filter(
                    c, lambda v, i: ((i - off) % nn == 0) & (i >= off)
                )

            return Expr(fn, e._name)
        return self._map(
            lambda c: F.filter(c, lambda v, i: ((i - offset) % n == 0) & (i >= offset))
        )

    def item(self, *, allow_empty: bool = False) -> Expr:
        """The single element of a 1-element list (null when the length
        differs — polars raises; per-row raising is not expressible).
        ``allow_empty`` also nulls empty lists (reference item)."""
        ok = (lambda s: (s == 1) | (s == 0)) if allow_empty else (lambda s: s == 1)
        return self._map(lambda c: F.when(ok(F.size(c)), F.get(c, 0)))

    def to_array(self, width: int | None = None) -> Expr:
        """Identity: §1.2 maps polars Array to Spark array (same storage)."""
        return self._e

    def std(self, ddof: int = 1) -> Expr:
        def f(c):
            arr = F.filter(c.cast("array<double>"), lambda v: v.isNotNull())
            n = F.size(arr)
            s = F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)
            s2 = F.aggregate(arr, F.lit(0.0), lambda a, v: a + v * v)
            var = (s2 - s * s / n) / (n - ddof)
            return F.when(n > ddof, F.sqrt(var))

        return self._map(f)

    def var(self, ddof: int = 1) -> Expr:
        def f(c):
            arr = F.filter(c.cast("array<double>"), lambda v: v.isNotNull())
            n = F.size(arr)
            s = F.aggregate(arr, F.lit(0.0), lambda a, v: a + v)
            s2 = F.aggregate(arr, F.lit(0.0), lambda a, v: a + v * v)
            return F.when(n > ddof, (s2 - s * s / n) / (n - ddof))

        return self._map(f)

    def _nn(self, c: Column) -> Column:
        return F.filter(c, lambda x: x.isNotNull())

    def sum(self) -> Expr:
        parent = self._e

        def fn(ctx) -> Column:
            c = parent._resolve(ctx)
            init = F.lit(0.0)
            # integer element lists sum to their integer type (polars
            # rule), not double
            if isinstance(getattr(ctx.dtype(c)[0], "elementType", None), IntegralType):
                init = F.lit(0).cast("bigint")
            return F.aggregate(self._nn(c), init, lambda acc, x: acc + x)

        return Expr(fn, parent._name)

    def min(self) -> Expr:
        return self._map(F.array_min)

    def max(self) -> Expr:
        return self._map(F.array_max)

    def mean(self) -> Expr:
        def fn(c):
            nn = self._nn(c)
            return F.when(
                F.size(nn) > 0,
                F.aggregate(nn, F.lit(0.0), lambda acc, x: acc + x) / F.size(nn),
            )

        return self._map(fn)

    def median(self) -> Expr:
        def fn(c):
            arr = F.array_sort(self._nn(c))
            n = F.size(arr)
            lo = F.get(arr, (F.floor((n - 1) / 2)).cast("int")).cast("double")
            hi = F.get(arr, (F.ceil((n - 1) / 2)).cast("int")).cast("double")
            return F.when(n > 0, (lo + hi) / 2)

        return self._map(fn)

    def sort(self, *, descending: bool = False, nulls_last: bool = False) -> Expr:
        # reference rule (same list_sort kernel as Expr.sort): nulls FIRST
        # by default in both directions, LAST with nulls_last=True
        if not descending and not nulls_last:
            return self._map(lambda c: F.sort_array(c))
        if not descending:
            return self._map(F.array_sort)
        if nulls_last:
            return self._map(lambda c: F.sort_array(c, asc=False))
        return self._map(lambda c: F.reverse(F.array_sort(c)))

    def reverse(self) -> Expr:
        return self._map(F.reverse)

    def unique(self, *, maintain_order: bool = False) -> Expr:
        return self._map(F.array_distinct)

    def n_unique(self) -> Expr:
        return self._map(lambda c: F.size(F.array_distinct(c)))

    def head(self, n: int = 5, *, as_array: bool = False) -> Expr:
        # as_array: polars Array/List share Spark storage (§1.2) — identity
        return self._map(lambda c: F.slice(c, 1, n))

    def tail(self, n: int = 5, *, as_array: bool = False) -> Expr:
        return self._map(
            lambda c: F.when(F.size(c) <= n, c).otherwise(F.slice(c, -n, n))
        )

    def slice(self, offset: int, length: int | None = None, *, as_array: bool = False) -> Expr:
        def fn(c):
            n = length if length is not None else F.size(c)
            start = offset + 1 if offset >= 0 else offset
            return F.slice(c, F.lit(start), n if length is not None else F.size(c))

        return self._map(fn)

    def join(self, separator, *, ignore_nulls: bool = True) -> Expr:
        # reference: ignore_nulls=True skips null elements (array_join's
        # native behavior); False nulls the WHOLE result when any element
        # is null
        def guard(c, joined):
            if ignore_nulls:
                return joined
            return F.when(~F.exists(c, lambda x: x.isNull()), joined)

        if isinstance(separator, Expr) or not isinstance(separator, str):
            sep = _to_expr(separator)
            e = self._e
            return Expr(
                lambda ctx: guard(
                    e._resolve(ctx),
                    F.call_function("array_join", e._resolve(ctx), sep._resolve(ctx)),
                ),
                e._name,
            )
        return self._map(lambda c: guard(c, F.array_join(c, separator)))

    def arg_min(self) -> Expr:
        return self._map(lambda c: F.array_position(c, F.array_min(c)).cast("bigint") - 1)

    def arg_max(self) -> Expr:
        return self._map(lambda c: F.array_position(c, F.array_max(c)).cast("bigint") - 1)

    def sample(
        self,
        n: int | None = None,
        *,
        fraction: float | None = None,
        with_replacement: bool = False,
        shuffle: bool = False,
        seed: int | None = None,
    ) -> Expr:
        """polars list.sample, made deterministic: elements are ranked by a
        seeded hash of (value, position) and the top n (or ceil(fraction *
        len)) taken — same seed, same subset, every run.  shuffle=False
        restores the original element order (polars semantics)."""
        if (n is None) == (fraction is None):
            raise ValueError("provide exactly one of n / fraction")
        s = 0 if seed is None else int(seed)
        e = self._e

        def _n_col(ctx) -> Column:
            if isinstance(n, Expr) or type(n).__name__ == "Series":
                return _to_expr(n)._resolve(ctx).cast("int")
            if isinstance(n, str):
                return F.col(n).cast("int")
            return F.lit(int(n))

        if with_replacement:
            # deterministic draws WITH replacement: draw i picks the
            # element at xxhash64(list, i, seed) mod len — seeded, engine
            # -stable, and each draw independent of the others
            def fn_wr(ctx: ExprContext) -> Column:
                c = e._resolve(ctx)
                sz = F.size(c)
                cnt = (
                    _n_col(ctx)
                    if n is not None
                    else F.ceil(sz * F.lit(float(fraction))).cast("int")
                )
                draws = F.sequence(F.lit(0), cnt - 1)
                picked = F.transform(
                    draws,
                    lambda i: F.get(
                        c, F.pmod(F.xxhash64(c, i, F.lit(s)), sz).cast("int")
                    ),
                )
                return F.when(sz > 0, picked)

            return Expr(fn_wr, e._name)

        def fn(ctx: ExprContext) -> Column:
            c = e._resolve(ctx)
            idx = F.sequence(F.lit(0), F.size(c) - 1)
            pairs = F.transform(
                idx,
                lambda i: F.struct(
                    F.xxhash64(F.get(c, i), i, F.lit(s)).alias("h"), i.alias("p")
                ),
            )
            if n is not None:
                k = F.least(_n_col(ctx), F.size(c))
            else:
                k = F.ceil(F.size(c) * F.lit(float(fraction))).cast("int")
            chosen = F.slice(F.array_sort(pairs), 1, k)
            if shuffle:
                return F.transform(chosen, lambda st: F.get(c, st["p"]))
            pos = F.array_sort(F.transform(chosen, lambda st: st["p"]))
            return F.transform(pos, lambda p: F.get(c, p))

        return Expr(fn, e._name)

    def agg(self, expr: Expr) -> Expr:
        """polars list.agg (reference expr/list.py:1446): run an
        aggregation expression against each list's elements.  The agg node
        resolves in an element-agg context: its elementwise input runs
        inside a JVM ``transform`` over the array and the reduction lowers
        to this namespace's own array aggregate — no explode, no shuffle."""
        e = self._e
        if not (expr._is_agg or getattr(expr, "_elem_group_op", False)):
            # no reduction anywhere (agg(pl.element() * 10)): elementwise,
            # same as eval (polars: agg == eval + aggregate semantics)
            return self.eval(expr)

        def fn(ctx: ExprContext) -> Column:
            arr = e._resolve(ctx)
            sub = _ElementAggContext(ctx, arr)
            return expr._resolve(sub)

        return Expr(fn, e._name)

    def eval(self, expr: Expr) -> Expr:
        """polars list.eval(pl.element()...) -> higher-order transform."""
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            arr = e._resolve(ctx)

            def body(x: Column) -> Column:
                return expr._resolve(_ElementContext(ctx, x, arr))

            return F.transform(arr, body)

        return Expr(fn, e._name)

    def filter(self, predicate: Expr) -> Expr:
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            def body(x: Column) -> Column:
                return predicate._resolve(_ElementContext(ctx, x))

            return F.filter(e._resolve(ctx), body)

        return Expr(fn, e._name)

    def any(self) -> Expr:
        return self._map(lambda c: F.exists(c, lambda x: F.coalesce(x, F.lit(False))))

    def all(self) -> Expr:
        return self._map(lambda c: F.forall(c, lambda x: F.coalesce(x, F.lit(True))))

    def count_matches(self, element) -> Expr:
        it = _to_expr(element)

        def fn(ctx: ExprContext) -> Column:
            v = it._resolve(ctx)
            return F.size(F.filter(self._e._resolve(ctx), lambda x: x == v))

        return Expr(fn, self._e._name)

    def concat(self, other) -> Expr:
        """Append ``other`` to each list — a list column concatenates, a
        scalar/element column is appended as one element (reference
        expr/list.py concat)."""
        from polars_spark.plans.expr import _col_fn

        e = self._e
        o = _col_fn(other) if isinstance(other, str) else _to_expr(other)

        def fn(ctx: ExprContext) -> Column:
            c, v = e._resolve(ctx), o._resolve(ctx)
            (t,) = ctx.dtype(v)
            if t is not None and not isinstance(t, ArrayType):
                v = F.array(v)
            return F.concat(c, v)

        return Expr(fn, e._name)

    def shift(self, n: int = 1) -> Expr:
        """Shift elements within each list (nulls fill the gap)."""

        def fn(c):
            size = F.size(c)
            if n >= 0:
                pad = F.array_repeat(F.lit(None), n)
                return F.slice(F.concat(pad, c), 1, size)
            pad = F.array_repeat(F.lit(None), -n)
            return F.slice(F.concat(F.slice(c, -n + 1, size), pad), 1, size)

        return self._map(fn)

    def diff(self, n: int = 1, null_behavior: str = "ignore") -> Expr:
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            c = e._resolve(ctx)
            idx = F.sequence(F.lit(0), F.size(c) - 1)
            out = F.transform(
                idx,
                lambda i: F.when(i >= n, F.get(c, i) - F.get(c, i - n)),
            )
            if null_behavior == "drop":
                # polars: drop the n leading slots instead of nulling them
                out = F.slice(out, n + 1, F.greatest(F.size(c) - n, F.lit(0)))
            return out

        return Expr(fn, e._name)

    def to_struct(
        self,
        n_field_strategy: str = "first_non_null",
        fields: list[str] | None = None,
        upper_bound: int | None = None,
    ) -> Expr:
        """List -> struct.  With ``fields`` or ``upper_bound`` the struct
        schema is static and the lowering is pure (no Spark job).  Without
        either, the width must be probed with a tiny max(size) aggregate —
        an eager job at plan-build time (the data determines the schema, as
        in polars' own width strategies); pass ``upper_bound`` in pipelines
        to keep plan construction lazy."""
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            c = e._resolve(ctx)
            if callable(fields):
                width = upper_bound
                if width is None:
                    width = ctx.df.select(F.max(F.size(c)).alias("__w")).collect()[0]["__w"]
                names = [fields(i) for i in range(width)]
            elif fields is not None:
                names = list(fields)
            else:
                width = upper_bound
                if width is None:
                    width = ctx.df.select(F.max(F.size(c)).alias("__w")).collect()[0]["__w"]
                names = [f"field_{i}" for i in range(width)]
            return F.struct(*[F.get(c, i).alias(nm) for i, nm in enumerate(names)])

        return Expr(fn, e._name)

    def gather(self, indices, *, null_on_oob: bool = False) -> Expr:
        """``null_on_oob=True`` nulls out-of-bounds indices (F.get already
        does — polars raises by default, which is not expressible per-row;
        both forms null here, the kwarg is accepted for parity)."""
        e = self._e
        idx = _to_expr(indices)

        def fn(ctx: ExprContext) -> Column:
            c = e._resolve(ctx)
            return F.transform(idx._resolve(ctx), lambda i: F.get(c, i.cast("int")))

        return Expr(fn, e._name)

    # -- set ops (ListFunction::SetOperation, function_expr/list.rs:6) --------
    def _set_operand(self, other):
        """Set-op right operand: a string is a COLUMN name (reference list
        set ops), anything else converts as usual."""
        from polars_spark.plans.expr import col as _colf

        return _colf(other) if isinstance(other, str) else _to_expr(other)

    def _set_sides(self, ctx, o):
        """Resolve both sides, coercing the right array's element type to
        the left's (Spark's array set ops reject differing int widths)."""
        a, b = self._e._resolve(ctx), o._resolve(ctx)
        (t,) = ctx.dtype(a)
        return a, (b if t is None else b.cast(t.simpleString()))

    def set_union(self, other) -> Expr:
        o = self._set_operand(other)
        return Expr(
            lambda ctx: F.array_union(*self._set_sides(ctx, o)), self._e._name
        )

    def set_intersection(self, other) -> Expr:
        o = self._set_operand(other)
        return Expr(
            lambda ctx: F.array_intersect(*self._set_sides(ctx, o)),
            self._e._name,
        )

    def set_difference(self, other) -> Expr:
        o = self._set_operand(other)
        return Expr(
            lambda ctx: F.array_except(*self._set_sides(ctx, o)), self._e._name
        )

    def set_symmetric_difference(self, other) -> Expr:
        o = self._set_operand(other)

        def fn(ctx):
            a, b = self._set_sides(ctx, o)
            return F.array_union(F.array_except(a, b), F.array_except(b, a))

        return Expr(fn, self._e._name)


# ---------------------------------------------------------------------------
# .struct


# struct.with_fields resolution scope (pl.field) — plan construction is
# synchronous and single-threaded, so a module stack is safe
_FIELD_SCOPE: list = []


def _field_names(ctx, c: Column) -> list[str]:
    """Field names of a resolved struct column."""
    (t,) = ctx.dtype(c)
    if t is None:
        raise ValueError(f"struct fields of {c} do not resolve over this frame")
    return t.names


class StructNamespace(_NS):
    def field(self, name, *more_names) -> Expr:
        """Struct field access (reference expr/struct.py field): a name, an
        int position, several names (multi-output expansion in select), a
        wildcard '*', or a ^regex$ over field names."""
        e = self._e

        if more_names or name == "*" or (
            isinstance(name, str) and name.startswith("^") and name.endswith("$")
        ):
            # multi-output: resolves to ALL matching fields — uses the same
            # select-level unnest marker machinery, restricted by name set
            import re as _re

            wanted = [name, *more_names]

            def fn(ctx):
                fields = _field_names(ctx, e._resolve(ctx))
                if name == "*":
                    keep = fields
                elif name.startswith("^"):
                    keep = [f for f in fields if _re.match(name, f)]
                else:
                    keep = [f for f in wanted if f in fields]
                c = e._resolve(ctx)
                return F.struct(*[c.getField(f).alias(f) for f in keep])

            out = Expr(fn, e._name)
            out._unnest = True
            return out
        if isinstance(name, int):
            def fn(ctx):
                fields = _field_names(ctx, e._resolve(ctx))
                return e._resolve(ctx).getField(fields[name])

            return Expr(fn, "field")
        return self._map(lambda c: c.getField(name), name=name)

    def unnest(self) -> Expr:
        """Expand the struct's fields into top-level columns (polars
        Expr.struct.unnest — a multi-output expression).  Select-context
        only: LazyFrame.select sees the marker and emits Spark's native
        ``name.*`` field expansion."""
        e = self._map(lambda c: c)
        e._unnest = True
        return e

    def __getitem__(self, name) -> Expr:
        return self.field(name)

    def json_encode(self) -> Expr:
        return self._map(F.to_json)

    def with_fields(self, *exprs, **named) -> Expr:
        """Add/replace struct fields.  Positional exprs may use pl.field(..)
        to reference sibling fields (reference functions/lazy.py:61); the
        struct column is pushed on a resolution-scope stack so field()
        resolves against it."""

        def fn(ctx: ExprContext) -> Column:
            c = self._e._resolve(ctx)
            _FIELD_SCOPE.append(c)
            try:
                for e in exprs:
                    ee = _to_expr(e)
                    c2 = ee._resolve(ctx)
                    c = c.withField(ee._name, c2)
                    _FIELD_SCOPE[-1] = c
                for n, e in named.items():
                    c = c.withField(n, _to_expr(e)._resolve(ctx))
                    _FIELD_SCOPE[-1] = c
            finally:
                _FIELD_SCOPE.pop()
            return c

        return Expr(fn, self._e._name)

    def drop(self, *names) -> Expr:
        """Struct without the named fields (Column.dropFields)."""
        flat = []
        for n in names:
            flat.extend(n) if isinstance(n, (list, tuple)) else flat.append(n)

        def fn(ctx: ExprContext) -> Column:
            c = self._e._resolve(ctx)
            return c.dropFields(*flat)

        return Expr(fn, self._e._name)

    def rename_fields(self, names: list[str]) -> Expr:
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            c = e._resolve(ctx)
            old = _field_names(ctx, c)
            return F.struct(*[c.getField(o).alias(n) for o, n in zip(old, names)])

        return Expr(fn, e._name)

    def prefix_fields(self, prefix: str) -> Expr:
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            c = e._resolve(ctx)
            old = _field_names(ctx, c)
            return F.struct(*[c.getField(o).alias(prefix + o) for o in old])

        return Expr(fn, e._name)

    def suffix_fields(self, suffix: str) -> Expr:
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            c = e._resolve(ctx)
            old = _field_names(ctx, c)
            return F.struct(*[c.getField(o).alias(o + suffix) for o in old])

        return Expr(fn, e._name)

    def map_field_names(self, function) -> Expr:
        e = self._e

        def fn(ctx: ExprContext) -> Column:
            c = e._resolve(ctx)
            old = _field_names(ctx, c)
            return F.struct(*[c.getField(o).alias(function(o)) for o in old])

        return Expr(fn, e._name)


# ---------------------------------------------------------------------------
# .bin


class BinaryNamespace(_NS):
    def contains(self, literal) -> Expr:
        lit = _to_expr(literal)
        return Expr(
            lambda ctx: F.contains(self._e._resolve(ctx), lit._resolve(ctx)), self._e._name
        )

    def starts_with(self, prefix) -> Expr:
        p = _to_expr(prefix)
        return Expr(
            lambda ctx: F.startswith(self._e._resolve(ctx), p._resolve(ctx)), self._e._name
        )

    def ends_with(self, suffix) -> Expr:
        p = _to_expr(suffix)
        return Expr(
            lambda ctx: F.endswith(self._e._resolve(ctx), p._resolve(ctx)), self._e._name
        )

    def size(self, unit: str = "b") -> Expr:
        div = {"b": 1, "kb": 1024, "mb": 1024**2, "gb": 1024**3}[unit]
        if div == 1:
            return self._map(F.octet_length)
        return self._map(lambda c: F.octet_length(c) / F.lit(float(div)))

    def reinterpret(self, *, dtype, endianness: str = "little") -> Expr:
        """polars bin.reinterpret: read the bytes as a fixed-width integer.
        JVM-side lowering: hex() the bytes, byte-swap for little-endian by
        re-concatenating the 2-char groups, then conv(hex, 16, 10) and a
        two's-complement fold back into the signed range.  Raises for float
        targets (no bit-level float cast in Spark SQL)."""
        from polars_spark.plans.expr import _dtype_to_spark

        name = getattr(dtype, "__name__", None) or str(dtype)
        widths = {"Int16": 2, "UInt16": 2, "Int32": 4, "UInt32": 4, "Int64": 8, "UInt64": 8}
        if name not in widths:
            raise NotImplementedError(
                f"bin.reinterpret to {name}: only fixed-width integers are supported"
            )
        nbytes = widths[name]
        signed = name.startswith("Int")
        bits = nbytes * 8

        def fn(c):
            h = F.hex(c)  # big-endian hex, 2 chars per byte
            if endianness == "little":
                h = F.concat(
                    *[F.substring(h, 2 * i + 1, 2) for i in reversed(range(nbytes))]
                )
            elif endianness != "big":
                raise ValueError(f"endianness {endianness!r}")
            u = F.conv(h, 16, 10).cast("decimal(21,0)")
            if signed:
                # 2^63 / 2^64 exceed a py4j long; ship as decimal-cast strings
                two_bits = F.lit(str(2**bits)).cast("decimal(21,0)")
                half = F.lit(str(2 ** (bits - 1))).cast("decimal(21,0)")
                v = F.when(u >= half, u - two_bits).otherwise(u)
                return v.cast(_dtype_to_spark(name))
            return u.cast(_dtype_to_spark(name))

        return self._map(
            # null passthrough FIRST: octet_length(NULL) == n is null, which
            # would fall into the raise branch (all-null sweep find); polars
            # reinterprets null to null
            lambda c: F.when(c.isNull(), F.lit(None).cast(_dtype_to_spark(name))).otherwise(
                F.when(F.octet_length(c) == nbytes, fn(c)).otherwise(
                    F.raise_error(
                        F.lit(f"bin.reinterpret: binary is not {nbytes} bytes")
                    )
                )
            )
        )
    def get(self, index: int, *, null_on_oob: bool = True) -> Expr:
        """Byte at position (as a 1-byte binary; null when out of bounds)."""
        if index >= 0:
            return self._map(lambda c: F.when(F.octet_length(c) > index, F.substring(c, index + 1, 1)))
        return self._map(
            lambda c: F.when(F.octet_length(c) >= -index, F.substring(c, F.octet_length(c) + index + 1, 1))
        )

    def head(self, n: int = 10) -> Expr:
        return self._map(lambda c: F.substring(c, 1, n))

    def tail(self, n: int = 10) -> Expr:
        return self._map(lambda c: F.when(F.octet_length(c) <= n, c).otherwise(F.substring(c, -n, n)))

    def slice(self, offset: int, length: int | None = None) -> Expr:
        def f(c):
            ln = F.lit(length) if length is not None else F.octet_length(c)
            if offset >= 0:
                return F.substring(c, offset + 1, ln)
            start = F.greatest(F.octet_length(c) + offset + 1, F.lit(1))
            return F.substring(c, start, ln)

        return self._map(f)

    def encode(self, encoding: str) -> Expr:
        if encoding == "hex":
            return self._map(lambda c: F.lower(F.hex(c)))
        if encoding == "base64":
            # Java's encoder wraps MIME output at 76 chars; polars (and every
            # other engine) emits unwrapped base64
            return self._map(lambda c: F.regexp_replace(F.base64(c), "[\\r\\n]", ""))
        raise ValueError(encoding)

    def decode(self, encoding: str, *, strict: bool = True) -> Expr:
        if encoding == "hex":
            return self._map(F.unhex)
        if encoding == "base64":
            return self._map(F.unbase64)
        raise ValueError(encoding)


# ---------------------------------------------------------------------------
# .cat (Categorical == StringType in this engine, SURVEY §1.2)


class CatNamespace(_NS):
    def to_string(self) -> Expr:
        return self._map(lambda c: c.cast("string"))

    def set_ordering(self, ordering: str) -> Expr:
        return self._e  # physical/lexical ordering is a no-op on strings

    def get_categories(self) -> Expr:
        """The category list.  For an Enum-cast expr the categories are
        FROZEN metadata (dtype.rs FrozenCategories) — returned as rows via
        explode, no data scan.  For plain Categorical (string passthrough,
        no global dictionary by design) use frame.select(col).unique()."""
        enum = getattr(self._e, "_enum", None)
        if enum is None:
            # plain Categorical (string passthrough, no global dictionary by
            # design): the observed categories are the column's distinct
            # values — a length-changing select, lowered like value_counts
            # to the real distributed DISTINCT plan
            parent = self._e

            def rewrite(lf):
                from polars_spark.plans.frame import LazyFrame

                ctx = lf._ctx()
                c = parent._resolve(ctx)
                return LazyFrame(
                    lf._with_scalar_preps(ctx)
                    .select(c.alias(parent._name))
                    .distinct()
                )

            out = Expr(lambda ctx: parent._resolve(ctx), parent._name)
            out._select_rewrite = rewrite
            return out
        cats = list(enum.categories)
        # resolves to ONE row holding the category list (aggregate context —
        # the result is frame-size-independent, as in polars); explode at the
        # frame level for one-row-per-category
        return Expr(
            lambda ctx: F.first(F.array(*[F.lit(c) for c in cats])),
            self._e._name,
            is_agg=True,
        )

    # string-delegating surface: Categorical IS StringType here (§1.2), so
    # the cat string accessors are the str ones
    def starts_with(self, prefix) -> Expr:
        return StringNamespace(self._e).starts_with(prefix)

    def ends_with(self, suffix) -> Expr:
        return StringNamespace(self._e).ends_with(suffix)

    def len_bytes(self) -> Expr:
        return StringNamespace(self._e).len_bytes()

    def len_chars(self) -> Expr:
        return StringNamespace(self._e).len_chars()

    def slice(self, offset: int, length: int | None = None) -> Expr:
        return StringNamespace(self._e).slice(offset, length)

    def to(self, dtype) -> Expr:
        """cat.to(dtype): plain cast (categories are physical strings)."""
        return self._map(lambda c: c.cast(_dtype_to_spark(dtype)))

    def physical(self) -> Expr:
        """Physical representation — the string itself (no dictionary
        encoding at this layer; parquet/Tungsten dictionary-encode
        transparently)."""
        return self._e


# ---------------------------------------------------------------------------
# .name


class ExprNameNamespace:
    def __init__(self, expr: Expr):
        self._e = expr

    def keep(self) -> Expr:
        return self._e

    def prefix(self, prefix: str) -> Expr:
        return self._e.alias(prefix + self._e._name)

    def suffix(self, suffix: str) -> Expr:
        return self._e.alias(self._e._name + suffix)

    def to_lowercase(self) -> Expr:
        return self._e.alias(self._e._name.lower())

    def to_uppercase(self) -> Expr:
        return self._e.alias(self._e._name.upper())

    def map(self, function) -> Expr:
        return self._e.alias(function(self._e._name))

    def replace(self, pattern: str, value: str, *, literal: bool = False) -> Expr:
        """Regex (or literal) rename of the output name (reference
        expr/name.py replace).  Backreferences use the Rust-regex ``$1`` /
        ``${name}`` forms, translated to Python's ``\\1`` / ``\\g<name>``."""
        import re as _re

        name = self._e._name
        if literal:
            new = name.replace(pattern, value)
        else:
            repl = _re.sub(r"\$\{(\w+)\}", r"\\g<\1>", value)
            repl = _re.sub(r"\$(\d+)", r"\\\1", repl)
            new = _re.sub(pattern, repl, name)
        return self._e.alias(new)

    # struct FIELD renames through the name namespace (reference keeps both
    # surfaces; delegate to the struct-namespace implementations)
    def map_fields(self, function) -> Expr:
        return StructNamespace(self._e).map_field_names(function)

    def prefix_fields(self, prefix: str) -> Expr:
        return StructNamespace(self._e).prefix_fields(prefix)

    def suffix_fields(self, suffix: str) -> Expr:
        return StructNamespace(self._e).suffix_fields(suffix)
