"""The reference's registered scalar functions (SURVEY.md §2.B8,
sqawk-dev.tcl:199-215): Tcl-list and regexp helpers exposed to SQL.

``regexp``/``regsub`` have native JVM equivalents (rlike,
regexp_replace) — the UDF forms are registered anyway for script
compatibility, since reference scripts call them by these names.
The Tcl-list functions (lindex, llength, lrange, dict_get,
dict_exists) genuinely need Tcl quoting rules → Python UDFs, defined
as closures over a vendored tokenizer so executors never import this
package. They're interop helpers for small-side data, not the bulk
path.

CPython's ``repr`` of a double, the text SQLite prints for a REAL, is
not here: it is the JVM function ``py_real_repr`` (``sqawk_spark/jvm``),
which ``register_udfs`` registers with the rest.
"""

from __future__ import annotations

import pandas as pd  # module-scope: pandas_udf type hints resolve here

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from sqawk_spark import jvm


# logs a WARN for each function below that replaces a Spark built-in of
# the same name (typeof, printf, date, ...); sqawk writes nothing on
# stderr
_FUNCTION_REGISTRY = "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry"


def register_udfs(spark: SparkSession) -> None:
    log4j = spark._jvm.org.apache.logging.log4j
    log4j.core.config.Configurator.setLevel(_FUNCTION_REGISTRY, log4j.Level.ERROR)
    jvm.register(spark)  # py_real_repr, in the rewriter's REAL renderings
    # NOTE: tokenize is defined inside this function ON PURPOSE, even
    # though sources/tcl.py has the same logic: a nested function is
    # pickled by value into the UDF closures, while an imported one is
    # pickled by reference and breaks on executors that don't have
    # this repo on PYTHONPATH.
    def tokenize(s: str) -> list[str]:
        out: list[str] = []
        i, n = 0, len(s)
        while i < n:
            while i < n and s[i] in " \t\n\r":
                i += 1
            if i >= n:
                break
            if s[i] == "{":
                depth, j = 1, i + 1
                while j < n and depth:
                    if s[j] == "\\":
                        j += 2
                        continue
                    if s[j] == "{":
                        depth += 1
                    elif s[j] == "}":
                        depth -= 1
                    j += 1
                out.append(s[i + 1 : j - 1])
                i = j
            elif s[i] == '"':
                j = i + 1
                while j < n and s[j] != '"':
                    if s[j] == "\\":
                        j += 1
                    j += 1
                out.append(s[i + 1 : j])
                i = j + 1
            else:
                j = i
                while j < n and s[j] not in " \t\n\r":
                    j += 1
                out.append(s[i:j])
                i = j
        return out

    def lindex(lst: str, *indices) -> str | None:
        """Tcl lindex with nested indices (tests.tcl:1111)."""
        cur = lst
        for ix in indices:
            items = tokenize(cur if cur is not None else "")
            i = int(ix)
            cur = items[i] if 0 <= i < len(items) else ""
        return cur

    def llength(lst: str) -> int:
        return len(tokenize(lst or ""))

    def lrange(lst: str, a: int, b: int) -> str:
        items = tokenize(lst or "")
        sel = items[int(a) : int(b) + 1]
        out = []
        for s in sel:
            if s == "" or any(c in s for c in " \t\n{}\"\\"):
                out.append("{" + s + "}")
            else:
                out.append(s)
        return " ".join(out)

    def regexp(pattern: str, s: str) -> bool:
        import re as _re

        return _re.search(pattern, s or "") is not None

    def regsub(pattern: str, s: str, replacement: str) -> str:
        import re as _re

        return _re.sub(pattern, replacement, s or "")

    def dict_get(d: str, *keys) -> str:
        cur = d
        for k in keys:
            items = tokenize(cur if cur is not None else "")
            m = dict(zip(items[0::2], items[1::2]))
            if k not in m:
                return ""
            cur = m[k]
        return cur

    def dict_exists(d: str, *keys) -> bool:
        cur = d
        for k in keys:
            items = tokenize(cur if cur is not None else "")
            m = dict(zip(items[0::2], items[1::2]))
            if k not in m:
                return False
            cur = m[k]
        return True

    def _substr_text(x) -> str:
        """X as SQLite renders it: integers bare, floats shortest-repr
        (CPython repr matches SQLite's shortest-round-trip rendering on
        everything the canonicalized-string storage produces), strings
        verbatim — the engine's dynamic columns arrive pre-canonical."""
        if isinstance(x, bool):
            return "1" if x else "0"
        if isinstance(x, float):
            return repr(x)
        return str(x)

    def _substr_i64(v) -> int:
        """sqlite3_value_int64 of a Y/Z operand: ints pass through,
        reals truncate toward zero, text parses its numeric PREFIX
        (sqlite3AtoF — 'x' counts 0, '2.9' counts 2)."""
        import re as _re

        if isinstance(v, bool):
            return int(v)
        if isinstance(v, int):
            return v
        if isinstance(v, float):
            return int(v)
        m = _re.match(
            r"[+-]?(\d+\.?\d*([eE][+-]?\d+)?|\.\d+([eE][+-]?\d+)?)",
            str(v).strip(),
        )
        if not m:
            return 0
        t = m.group(0)
        try:
            return int(t) if _re.fullmatch(r"[+-]?\d+", t) else int(float(t))
        except (ValueError, OverflowError):
            return 0

    def _sqlite_substr(x, y, z) -> str | None:
        """SQLite substr(X, Y[, Z]) — the exact func.c substrFunc walk
        (position 0 starts LEFT of the first character, negative Y
        counts from the right, negative Z takes the |Z| characters
        BEFORE position Y; 2-arg leaves Z at the db length limit).
        Grid-verified against real sqlite3 over every (Y, Z) in
        [-9, 9] ∪ {None} for four string lengths — zero mismatches.
        Spark's substring() differs on the Y=0 and negative-Z forms,
        hence the rewrite (dialect.rewrite_scalar_calls)."""
        s = _substr_text(x)
        n = len(s)
        p1 = _substr_i64(y)
        if z is None:
            p2, neg_p2 = 2**31, False
        else:
            p2 = _substr_i64(z)
            neg_p2 = p2 < 0
            if neg_p2:
                p2 = -p2
        if p1 < 0:
            p1 += n
            if p1 < 0:
                p2 += p1
                if p2 < 0:
                    p2 = 0
                p1 = 0
        elif p1 > 0:
            p1 -= 1
        elif p2 > 0:
            p2 -= 1
        if neg_p2:
            p1 -= p2
            if p1 < 0:
                p2 += p1
                p1 = 0
        if p2 < 0:
            p2 = 0
        return s[p1 : p1 + p2]

    def _sqlite_round(x, y) -> float | None:
        """SQLite round(X[, Y]) — func.c roundFunc (3.40+): X coerces
        via the numeric-prefix parse ('3abc' → 3.0, 'x' → 0.0), Y
        clamps to [0, 30]. Y=0 takes the ±0.5-and-truncate int64 path
        (so round(-0.4) is +0.0, sign dropped through the integer);
        Y>0 rounds the SHORTEST-DECIMAL rendering half-away-from-zero
        — round(2.675, 2) is 2.68 even though the double is
        2.67499…, where C printf (and Spark's binary HALF_UP) give
        2.67. |X| > 2^52 passes through unchanged (already integral).
        Probed against real sqlite3 in tests/test_dialect.py."""
        from decimal import ROUND_HALF_UP, Decimal

        if x is None or y is None:
            return None
        if isinstance(x, (int, float)) and not isinstance(x, bool):
            r = float(x)
        else:
            s = str(x).strip()
            import re as _re

            m = _re.match(
                r"[+-]?(\d+\.?\d*([eE][+-]?\d+)?|\.\d+([eE][+-]?\d+)?)",
                s,
            )
            if m:
                try:
                    r = float(m.group(0))
                except (ValueError, OverflowError):
                    r = 0.0
            elif s[:1] == "-":
                r = -0.0
            else:
                r = 0.0
        n = _substr_i64(y)
        if n > 30:
            n = 30
        if n < 0:
            n = 0
        if r != r or r in (float("inf"), float("-inf")):
            return r
        if abs(r) > 4503599627370496.0:  # 2^52: integral already
            return r
        if n == 0:
            return float(int(r + (-0.5 if r < 0 else 0.5)))
        d = Decimal(repr(r)).quantize(
            Decimal(1).scaleb(-n), rounding=ROUND_HALF_UP
        )
        return float(d)

    def sqlite_round1(x) -> float | None:
        return _sqlite_round(x, 0)

    def sqlite_round2(x, y) -> float | None:
        return _sqlite_round(x, y)

    def sqlite_substr2(x, y) -> str | None:
        if x is None or y is None:
            return None
        return _sqlite_substr(x, y, None)

    def sqlite_substr3(x, y, z) -> str | None:
        if x is None or y is None or z is None:
            return None
        return _sqlite_substr(x, y, z)

    def sqlite_printf(fmt: str, *args) -> str | None:
        """SQLite printf(): NULL under %s prints empty, non-numeric
        text under %d/%f coerces to 0 (reference relies on this —
        tests.tcl:1008,1079). Registered UDFs shadow the Spark builtin
        of the same name, so scripts calling printf() get SQLite
        semantics."""
        import re as _re

        if fmt is None:
            return None
        out = []
        ai = 0
        i, n = 0, len(fmt)
        spec_re = _re.compile(r"%([-+ #0]*)(\d*)(?:\.(\d+))?([diufeEgGxXosc%])")
        while i < n:
            c = fmt[i]
            if c != "%":
                out.append(c)
                i += 1
                continue
            m = spec_re.match(fmt, i)
            if not m:
                out.append(c)
                i += 1
                continue
            flags, width, prec, conv = m.groups()
            i = m.end()
            if conv == "%":
                out.append("%")
                continue
            arg = args[ai] if ai < len(args) else None
            ai += 1
            spec = "%" + flags + width + ("." + prec if prec else "")
            if conv in "diu":
                try:
                    v = int(float(arg)) if arg is not None else 0
                except (TypeError, ValueError):
                    v = 0
                out.append((spec + "d") % v)
            elif conv in "feEgG":
                try:
                    v = float(arg) if arg is not None else 0.0
                except (TypeError, ValueError):
                    v = 0.0
                out.append((spec + conv) % v)
            elif conv in "xXo":
                try:
                    v = int(float(arg)) if arg is not None else 0
                except (TypeError, ValueError):
                    v = 0
                out.append((spec + conv) % v)
            elif conv == "c":
                s = str(arg) if arg is not None else ""
                out.append(s[:1])
            else:  # s
                out.append((spec + "s") % ("" if arg is None else str(arg)))
        return "".join(out)

    def typeof(x) -> str:
        """SQLite typeof() over our canonicalized-string storage model:
        the canonical form IS the storage class (affinity.py renders
        integer-stored values as '1', real-stored as '1.0'), so
        classify the rendered text. NULL → 'null'."""
        import re as _re

        if x is None:
            return "null"
        s = str(x)
        if _re.fullmatch(r"[+-]?\d+", s):
            return "integer"
        if _re.fullmatch(r"[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", s):
            return "real"
        return "text"

    def glob(pattern: str, x: str) -> bool | None:
        """SQLite glob(Y, X): case-sensitive *, ?, [...] (with ^ or !
        negation). Translated to an anchored regex."""
        import re as _re

        if pattern is None or x is None:
            return None
        out, i, n = [], 0, len(pattern)
        while i < n:
            c = pattern[i]
            if c == "*":
                out.append(".*")
            elif c == "?":
                out.append(".")
            elif c == "[":
                j = i + 1
                neg = j < n and pattern[j] in "^!"
                if neg:
                    j += 1
                if j < n and pattern[j] == "]":
                    j += 1
                while j < n and pattern[j] != "]":
                    j += 1
                inner = pattern[i + 1 + (1 if neg else 0) : j]
                # SQLite treats backslash literally inside [...]; a raw
                # one would escape the next char (or error) in re
                inner = inner.replace("\\", "\\\\").replace("^", "\\^")
                out.append("[" + ("^" if neg else "") + inner + "]")
                i = j
            else:
                out.append(_re.escape(c))
            i += 1
        return _re.fullmatch("".join(out), x, flags=_re.DOTALL) is not None

    _like_cache: dict = {}

    def sqlite_like(pattern, x, esc) -> bool | None:
        """SQLite like(B, A[, E]) — patternCompare semantics
        (src/func.c): ASCII-only case fold, ``%``/``_`` wildcards
        crossing newlines, ESCAPE making the next pattern character
        literal (still case-folded), single-character escape enforced
        like SQLite's 'ESCAPE expression must be a single character'.
        The UDF is the fallback for non-literal patterns; literal
        patterns lower to a JVM RLIKE in dialect.rewrite_like_nocase."""
        import re as _re

        if esc is not None and len(str(esc)) != 1:
            raise ValueError(
                "ESCAPE expression must be a single character"
            )
        if pattern is None or x is None:
            return None
        p = str(pattern)
        e = str(esc) if esc is not None else None
        key = (p, e)
        rx = _like_cache.get(key)
        if rx is None:
            out, i, n = [], 0, len(p)
            while i < n:
                c = p[i]
                if e is not None and c == e:
                    i += 1
                    if i >= n:
                        out.append("(?!)")
                        break
                    out.append(_re.escape(p[i]))
                elif c == "%":
                    out.append(".*")
                elif c == "_":
                    out.append(".")
                else:
                    out.append(_re.escape(c))
                i += 1
            rx = _re.compile(
                "(?:" + "".join(out) + ")\\Z",
                _re.IGNORECASE | _re.DOTALL | _re.ASCII,
            )
            if len(_like_cache) > 4096:
                _like_cache.clear()
            _like_cache[key] = rx
        return rx.match(str(x)) is not None

    def _parse_timevalue(tv):
        from datetime import datetime, timedelta, timezone

        if tv is None:
            return None
        if isinstance(tv, datetime):
            return tv
        s = str(tv).strip()
        if s == "now":
            return datetime.now(timezone.utc).replace(tzinfo=None)
        try:  # julian day number; inf/nan/out-of-range → NULL like
            # SQLite's strftime, not a UDF-aborting exception
            jd = float(s)
            return datetime(2000, 1, 1) + timedelta(days=jd - 2451544.5)
        except ValueError:
            pass
        except (OverflowError, OSError):
            return None
        try:
            return datetime.fromisoformat(s.replace("T", " "))
        except ValueError:
            return None

    def _apply_modifiers(dt, mods):
        """SQLite date-function modifiers, applied left to right
        (www.sqlite.org/lang_datefunc.html): ``±N
        days/hours/minutes/seconds/months/years`` (singular or plural,
        fractional time units), ``start of day/month/year``, and
        ``weekday N``. Unrecognized modifiers yield NULL, exactly like
        SQLite — never a silently ignored token. Month/year arithmetic
        reproduces SQLite's day-overflow rollover (Jan 31 + 1 month =
        Mar 2/3) by building from day 1 and adding the excess days.
        Cross-checked against the system sqlite3 in
        tests/test_cli.py."""
        import re as _re
        from datetime import timedelta

        num_re = _re.compile(
            r"^([+-]?\d+(?:\.\d+)?)\s+"
            r"(day|hour|minute|second|month|year)s?$"
        )

        def _ms_delta(days: float) -> timedelta:
            # SQLite date.c adds r*unit to iJD (milliseconds) with
            # `(int64)(x + (x<0 ? -0.5 : 0.5))` — round half away from
            # zero at millisecond resolution. Reproduce that exactly so
            # fractional modifiers match bit-for-bit.
            ms = days * 86400000.0
            return timedelta(
                milliseconds=int(ms + 0.5) if ms >= 0 else int(ms - 0.5)
            )

        for raw in mods:
            if dt is None or raw is None:
                return None
            mod = str(raw).strip().lower()
            m = num_re.match(mod)
            if m:
                n, unit = float(m.group(1)), m.group(2)
                if unit == "day":
                    dt = dt + _ms_delta(n)
                elif unit == "hour":
                    dt = dt + _ms_delta(n / 24.0)
                elif unit == "minute":
                    dt = dt + _ms_delta(n / 1440.0)
                elif unit == "second":
                    dt = dt + _ms_delta(n / 86400.0)
                else:  # month / year: SQLite's split rule (date.c):
                    # integer part as calendar months/years with
                    # day-overflow rollover, fractional remainder as
                    # 30 days/month resp. 365 days/year.
                    whole = int(n)  # C truncation toward zero
                    frac = n - whole
                    months = whole * (12 if unit == "year" else 1)
                    total = dt.year * 12 + (dt.month - 1) + months
                    y, mo = divmod(total, 12)
                    try:
                        dt = dt.replace(year=y, month=mo + 1, day=1) + timedelta(
                            days=dt.day - 1
                        )
                    except ValueError:  # year out of datetime range
                        return None
                    if frac:
                        dt = dt + _ms_delta(
                            frac * (365.0 if unit == "year" else 30.0)
                        )
            elif mod == "start of day":
                dt = dt.replace(hour=0, minute=0, second=0, microsecond=0)
            elif mod == "start of month":
                dt = dt.replace(
                    day=1, hour=0, minute=0, second=0, microsecond=0
                )
            elif mod == "start of year":
                dt = dt.replace(
                    month=1, day=1, hour=0, minute=0, second=0, microsecond=0
                )
            elif mod.startswith("weekday "):
                try:
                    target = int(mod[8:].strip())
                except ValueError:
                    return None
                if not 0 <= target <= 6:
                    return None
                cur = (dt.weekday() + 1) % 7  # SQLite: Sunday = 0
                dt = dt + timedelta(days=(target - cur) % 7)
            else:
                return None
        return dt

    def _resolve_timevalue(timevalue, mods):
        """Parse the time value, honoring a leading ``unixepoch``
        modifier (numeric tv = seconds since 1970 instead of julian
        day), then apply the remaining modifiers."""
        from datetime import datetime, timezone

        mods = [m for m in mods if m is not None] if mods else []
        if mods and str(mods[0]).strip().lower() == "unixepoch":
            try:
                secs = float(str(timevalue).strip())
            except (TypeError, ValueError):
                return None
            try:
                dt = datetime.fromtimestamp(secs, tz=timezone.utc).replace(
                    tzinfo=None
                )
            except (OverflowError, OSError, ValueError):
                return None
            mods = mods[1:]
        else:
            dt = _parse_timevalue(timevalue)
        if dt is None:
            return None
        return _apply_modifiers(dt, mods)

    def strftime(fmt: str, timevalue, *mods) -> str | None:
        """SQLite strftime() token subset (%d %f %H %j %J %m %M %s %S
        %w %W %Y %%) over ISO-8601 / julian-day time values, with
        modifier arguments ('+1 day', 'start of month', 'weekday N',
        'unixepoch') applied left to right."""
        dt = _resolve_timevalue(timevalue, mods)
        if dt is None or fmt is None:
            return None
        from datetime import datetime, timezone

        out, i, n = [], 0, len(fmt)
        while i < n:
            c = fmt[i]
            if c != "%" or i + 1 >= n:
                out.append(c)
                i += 1
                continue
            t = fmt[i + 1]
            i += 2
            if t == "%":
                out.append("%")
            elif t == "d":
                out.append(f"{dt.day:02d}")
            elif t == "f":
                out.append(f"{dt.second + dt.microsecond / 1e6:06.3f}")
            elif t == "H":
                out.append(f"{dt.hour:02d}")
            elif t == "j":
                out.append(f"{dt.timetuple().tm_yday:03d}")
            elif t == "J":
                epoch = datetime(2000, 1, 1)
                jd = 2451544.5 + (dt - epoch).total_seconds() / 86400.0
                out.append(repr(jd))
            elif t == "m":
                out.append(f"{dt.month:02d}")
            elif t == "M":
                out.append(f"{dt.minute:02d}")
            elif t == "s":
                out.append(
                    str(int(dt.replace(tzinfo=timezone.utc).timestamp()))
                )
            elif t == "S":
                out.append(f"{dt.second:02d}")
            elif t == "w":
                out.append(str((dt.weekday() + 1) % 7))
            elif t == "W":
                out.append(dt.strftime("%W"))
            elif t == "Y":
                out.append(f"{dt.year:04d}")
            else:
                out.append("%" + t)
        return "".join(out)

    def date_fn(tv, *mods) -> str | None:
        return strftime("%Y-%m-%d", tv, *mods)

    def time_fn(tv, *mods) -> str | None:
        return strftime("%H:%M:%S", tv, *mods)

    def datetime_fn(tv, *mods) -> str | None:
        return strftime("%Y-%m-%d %H:%M:%S", tv, *mods)

    def julianday(tv, *mods) -> float | None:
        s = strftime("%J", tv, *mods)
        return float(s) if s is not None else None

    def unixepoch_fn(tv, *mods) -> int | None:
        """SQLite unixepoch() (3.38+): integer Unix seconds of the
        time value — exactly strftime('%s', ...)."""
        s = strftime("%s", tv, *mods)
        return int(s) if s is not None else None

    def unicode_fn(s: str) -> int | None:
        return ord(s[0]) if s else None

    def sqlite_version() -> str:
        # honest emulation marker: the affinity layer is property-
        # tested against this exact library version
        import sqlite3 as _sq

        return _sq.sqlite_version

    def quote_fn(v) -> str:
        """SQLite quote(): SQL-literal rendering — strings single-
        quoted with '' escaping, numbers as-is, NULL as the word."""
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "1" if v else "0"
        if isinstance(v, (int, float)):
            return str(v)
        if isinstance(v, (bytes, bytearray)):
            return "X'" + v.hex().upper() + "'"
        return "'" + str(v).replace("'", "''") + "'"

    def char_fn(*codepoints) -> str:
        """SQLite char(): string from unicode code points; NULL and
        non-integer arguments become NUL characters (checked against
        the system SQLite — it emits \\x00, it does not skip)."""
        out = []
        for c in codepoints:
            try:
                out.append(chr(int(c)))
            except (TypeError, ValueError, OverflowError):
                out.append("\x00")
        return "".join(out)

    spark.udf.register("quote", quote_fn, T.StringType())
    spark.udf.register("char", char_fn, T.StringType())
    spark.udf.register("unicode", unicode_fn, T.IntegerType())
    spark.udf.register("sqlite_version", sqlite_version, T.StringType())

    # iif: SQL scalar function (CASE sugar). String-typed to match the
    # engine's canonicalized-string storage model.
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION iif(c BOOLEAN, a STRING, b STRING)
        RETURNS STRING RETURN CASE WHEN c THEN a ELSE b END
        """
    )

    # SQLite aggregate names: total() (sum with 0.0 for empty/all-NULL)
    # and group_concat() — Arrow-batched grouped-agg UDFs. Caveat
    # (shared with any GROUPED_AGG pandas UDF): they cannot be mixed
    # with JVM aggregates in one SELECT, and have no partial
    # aggregation — fine for sqawk-sized scripts; at scale use
    # coalesce(sum(x),0.0) / concat_ws(',', collect_list(x)).
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def total_agg(v: pd.Series) -> float:
        # SQLite numeric coercion, not a hard cast: text sums its
        # numeric PREFIX ('3abc' → 3.0) and counts 0.0 otherwise —
        # astype(float64) would raise on any non-numeric string.
        # (The dialect lowers total() over classified columns onto a
        # JVM sum — this UDAF is the unclassifiable-argument fallback.)
        s = v.dropna()
        ex = s.astype(str).str.strip().str.extract(
            r"^([+-]?(?:[0-9]+\.?[0-9]*(?:[eE][+-]?[0-9]+)?"
            r"|\.[0-9]+(?:[eE][+-]?[0-9]+)?))",
            expand=False,
        )
        return float(pd.to_numeric(ex, errors="coerce").fillna(0.0).sum())

    @pandas_udf("string")
    def group_concat_agg(v: pd.Series) -> str | None:
        vals = [str(x) for x in v.dropna()]
        return ",".join(vals) if vals else None

    @pandas_udf("string")
    def group_concat2_agg(v: pd.Series, sep: pd.Series) -> str | None:
        """group_concat(X, Y): SQLite emits Y from the CURRENT row as
        the separator preceding each value after the first. Reached via
        the dialect rewrite (dialect.py) since one UDF name cannot
        carry two arities in Spark."""
        mask = v.notna()
        vals = [str(x) for x in v[mask]]
        seps = ["" if x is None else str(x) for x in sep[mask]]
        if not vals:
            return None
        return vals[0] + "".join(
            seps[i] + vals[i] for i in range(1, len(vals))
        )

    _ASCII_FOLD = str.maketrans(
        "ABCDEFGHIJKLMNOPQRSTUVWXYZ", "abcdefghijklmnopqrstuvwxyz"
    )

    @pandas_udf("string")
    def group_concat_distinct_agg(v: pd.Series) -> str | None:
        """group_concat(DISTINCT X): SQLite dedups by value keeping
        the FIRST-arrival representative in scan order, ',' separator
        (lang_aggfunc.html; the dialect routes the DISTINCT form here
        — Spark's own DISTINCT clause rejects Python UDAFs)."""
        seen: set[str] = set()
        out = []
        for x in v.dropna():
            s = str(x)
            if s not in seen:
                seen.add(s)
                out.append(s)
        return ",".join(out) if out else None

    @pandas_udf("string")
    def group_concat_distinct_nocase_agg(v: pd.Series) -> str | None:
        """group_concat(DISTINCT X COLLATE NOCASE): dedup by SQLite's
        ASCII-only case fold, first-arrival representative rendered
        with its ORIGINAL case (probed vs sqlite3: 'AB,Ba,zz')."""
        seen: set[str] = set()
        out = []
        for x in v.dropna():
            s = str(x)
            k = s.translate(_ASCII_FOLD)
            if k not in seen:
                seen.add(k)
                out.append(s)
        return ",".join(out) if out else None

    spark.udf.register("total", total_agg)
    spark.udf.register("group_concat", group_concat_agg)
    spark.udf.register("group_concat2", group_concat2_agg)
    spark.udf.register("group_concat_distinct", group_concat_distinct_agg)
    spark.udf.register(
        "group_concat_distinct_nocase", group_concat_distinct_nocase_agg
    )

    spark.udf.register("typeof", typeof, T.StringType())
    spark.udf.register("glob", glob, T.BooleanType())
    spark.udf.register("sqlite_like", sqlite_like, T.BooleanType())
    spark.udf.register("strftime", strftime, T.StringType())
    spark.udf.register("date", date_fn, T.StringType())
    spark.udf.register("time", time_fn, T.StringType())
    spark.udf.register("datetime", datetime_fn, T.StringType())
    spark.udf.register("julianday", julianday, T.DoubleType())
    spark.udf.register("unixepoch", unixepoch_fn, T.LongType())
    spark.udf.register("printf", sqlite_printf, T.StringType())
    spark.udf.register("sqlite_substr2", sqlite_substr2, T.StringType())
    spark.udf.register("sqlite_substr3", sqlite_substr3, T.StringType())
    spark.udf.register("sqlite_round1", sqlite_round1, T.DoubleType())
    spark.udf.register("sqlite_round2", sqlite_round2, T.DoubleType())
    spark.udf.register("lindex", lindex, T.StringType())
    spark.udf.register("llength", llength, T.IntegerType())
    spark.udf.register("lrange", lrange, T.StringType())
    spark.udf.register("regexp", regexp, T.BooleanType())
    spark.udf.register("regsub", regsub, T.StringType())
    spark.udf.register("dict_get", dict_get, T.StringType())
    spark.udf.register("dict_exists", dict_exists, T.BooleanType())
