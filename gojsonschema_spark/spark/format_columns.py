"""Column-level format predicates for the SQL fast path.

Regex-expressible formats compile to pure ``rlike``/date expressions
(JVM-side, codegen). Parser-backed formats (email/uri/ip/...) become ONE
Arrow-batched pandas UDF wrapping the exact checker from core.formats —
usable in the plan wherever a Python UDF is legal (i.e. not inside
higher-order-function lambdas; the plan compiler enforces that).

Returns (pred, is_sql, is_custom) from :func:`format_column_pred`.
Checkers registered via ``FormatRegistry.add()`` take the custom path: an
Arrow-batched UDF over the JSON rendering of the whole value, decoded with
the interpreter's lexical parser (identical verdicts on both paths).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf

from ..core import formats as core_formats
from ..core.jsonvalue import parse_json

__all__ = ["format_column_pred"]

_FRAC = r"(?:\.\d+)?"
_ZONE = r"(?:Z|[+-]\d{2}:\d{2})"
_DATE_RX = r"^\d{4}-\d{2}-\d{2}\z"
_TIME_CORE = r"\d{1,2}:\d{2}:\d{2}"

_HOSTNAME_RX = (
    r"^([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9\-]{0,61}[a-zA-Z0-9])"
    r"(\.([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9\-]{0,61}[a-zA-Z0-9]))*\z"
)
_UUID_RX = r"(?i)^[a-f0-9]{8}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{12}\z"
_JSON_PTR_RX = r"^(?:/(?:[^~/]|~0|~1)*)*\z"
_REL_JSON_PTR_RX = r"^(?:0|[1-9][0-9]*)(?:#|(?:/(?:[^~/]|~0|~1)*)*)\z"
_IPV4_RX = r"^((25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}(25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\z"


def _hms_ok(prefix: Column) -> Column:
    h = F.split(prefix, ":").getItem(0).cast("int")
    mi = F.split(prefix, ":").getItem(1).cast("int")
    s = F.regexp_extract(prefix, r"^\d{1,2}:\d{2}:(\d{2})", 1).cast("int")
    return (h <= 23) & (mi <= 59) & (s <= 59)


def _date_ok(s: Column) -> Column:
    # strict shape + real calendar date (try_to_date validates ranges)
    return s.rlike(_DATE_RX) & F.try_to_date(s, "yyyy-MM-dd").isNotNull()


def _time_ok(s: Column) -> Column:
    shape = s.rlike(f"^{_TIME_CORE}{_FRAC}{_ZONE}\\z") | s.rlike(
        f"^{_TIME_CORE}{_FRAC}\\z")
    return shape & _hms_ok(s)


def _datetime_ok(s: Column) -> Column:
    dt_shape = s.rlike(r"^\d{4}-\d{2}-\d{2}T\d{1,2}:\d{2}:\d{2}" + _FRAC + _ZONE + r"\z")
    date_part = F.substring(s, 1, 10)
    time_part = F.regexp_extract(s, r"T(\d{1,2}:\d{2}:\d{2})", 1)
    full = dt_shape & _date_ok(date_part) & _hms_ok(time_part)
    return full | _time_ok(s) | _date_ok(s)


_UDF_CACHE: dict = {}

# pristine builtin checkers (FormatRegistry() is constructed with exactly
# these); used to detect add()/remove() overrides on a compiled schema's
# registry, which must NOT silently fall back to the builtin SQL preds
_BUILTINS = dict(core_formats.FormatRegistry()._checkers)


def _checker_udf(key, fn):
    """Deferred Arrow-batched boolean UDF mapping ``fn`` over the non-null
    values (NULL passes): created on first application and cached under
    ``key``, so plan compilation needs no SparkSession."""

    def pred(c: Column) -> Column:
        udf = _UDF_CACHE.get(key)
        if udf is None:
            @pandas_udf("boolean")
            def check(col: pd.Series) -> pd.Series:
                return col.map(lambda x: True if x is None else fn(x))

            udf = _UDF_CACHE[key] = check
        return udf(c)

    return pred


# --- Go net/url.Parse verdicts in pure SQL ----------------------------------
# (keeps format:uri out of Python — it was the scaling bottleneck: every
# JVM thread blocked on the Arrow round-trip at high parallelism)

_CTRL = "[\\x00-\\x1f\\x7f]"
_BAD_ESC = "%(?![0-9a-fA-F]{2})"          # '%' not followed by 2 hex digits
_SCHEME = "^[A-Za-z][A-Za-z0-9+.-]*:"
_USERINFO_RX = "^[A-Za-z0-9\\-._~!$&'()*+,;=:%]*$"


def _authority_of(s: Column) -> Column:
    """The //authority component if present (after an optional scheme)."""
    return F.regexp_extract(s, "^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//([^/?#]*)", 1)


def _host_port_ok(hp: Column) -> Column:
    bracketed = hp.startswith("[")
    br_ok = hp.rlike("^\\[[^\\]]*\\](:[0-9]*)?\\z")
    # non-bracketed: Go splits the port at the LAST colon; the port must be
    # digits (or empty); the host part rejects ASCII space, ", <, >
    last = F.substring_index(hp, ":", -1)
    has_colon = hp.contains(":")
    port_ok = ~has_colon | last.rlike("^[0-9]*\\z")
    host = F.when(has_colon,
                  F.substring(hp, F.lit(1),
                              F.length(hp) - F.length(last) - 1)).otherwise(hp)
    host_ok = ~host.rlike('[ "<>]')
    return F.when(bracketed, br_ok).otherwise(port_ok & host_ok)


def _go_url_ok(s: Column) -> Column:
    """Does Go net/url.Parse accept this string (no backslash rule here)?"""
    # "first path segment in URL cannot contain colon": scheme-less,
    # non-rooted references whose first segment has a ':' are rejected
    defrag = F.substring_index(s, "#", 1)
    first_seg = F.substring_index(defrag, "/", 1)
    seg_colon_bad = (~s.rlike(_SCHEME) & ~s.startswith("/")
                     & first_seg.contains(":"))
    base_ok = (~s.rlike(_CTRL) & ~s.rlike(_BAD_ESC) & ~s.rlike("^:")
               & ~seg_colon_bad)
    has_auth = s.rlike("^(?:[A-Za-z][A-Za-z0-9+.-]*:)?//")
    auth = _authority_of(s)
    has_at = auth.contains("@")
    userinfo = F.substring(auth, F.lit(1),
                           F.length(auth) - F.length(F.substring_index(auth, "@", -1)) - 1)
    hp = F.substring_index(auth, "@", -1)
    auth_ok = (~has_at | userinfo.rlike(_USERINFO_RX)) & _host_port_ok(hp)
    return base_ok & (~has_auth | auth_ok)


def _uri_ok(s: Column) -> Column:
    return _go_url_ok(s) & s.rlike(_SCHEME) & ~s.contains("\\")


def _uri_reference_ok(s: Column) -> Column:
    return _go_url_ok(s) & ~s.contains("\\")


_SQL_PREDS = {
    "date": _date_ok,
    "time": _time_ok,
    "date-time": _datetime_ok,
    "hostname": lambda s: s.rlike(_HOSTNAME_RX) & (F.length(s) < 256),
    "uuid": lambda s: s.rlike(_UUID_RX),
    "json-pointer": lambda s: s.rlike(_JSON_PTR_RX),
    "relative-json-pointer": lambda s: s.rlike(_REL_JSON_PTR_RX),
    "ipv4": lambda s: s.rlike(_IPV4_RX),
    "uri": _uri_ok,
    "iri": _uri_ok,
    "uri-reference": _uri_reference_ok,
    "iri-reference": _uri_reference_ok,
}

# (builtin formats not in _SQL_PREDS — email, idn-email, ipv6,
# uri-template, regex — run their exact parser checker via one
# Arrow-batched pandas UDF; see format_column_pred)


def format_column_pred(name: str, registry=None):
    """(pred, is_sql, is_custom) for ``name`` under ``registry``.

    * builtin checker still registered -> SQL pred or builtin-parser UDF
      over the string value (non-strings pass);
    * checker added/overridden via registry.add() -> ``is_custom=True``:
      pred takes the to_json rendering of the WHOLE value (any JSON type);
    * checker absent (unknown or remove()d) -> always passes
      (reference format_checkers.go:182-185)."""
    registry = registry or core_formats.default_registry
    checker = registry._checkers.get(name)
    if checker is None:
        return (lambda s: F.lit(True)), True, False
    if checker is _BUILTINS.get(name):
        if name in _SQL_PREDS:
            return _SQL_PREDS[name], True, False
        # builtin parser checker over the raw string value
        return _checker_udf(name, checker), False, False
    # user-registered checker: the UDF receives the JSON rendering of the
    # whole variant value and decodes it with the same lexical-number
    # parser the interpreter uses, so checker(value) sees identical inputs
    # on both engine paths (reference format_checkers.go:147-158 passes
    # the decoded Go value, not just strings)
    return (_checker_udf(("custom", name, id(checker)),
                         lambda x: bool(checker(parse_json(x)))),
            False, True)
