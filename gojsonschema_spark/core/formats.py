"""Format checkers with gojsonschema parity.

Reimplements the 17 built-in checkers of reference format_checkers.go from
scratch in Python, matching the *observable verdicts* of the Go standard
library functions the reference delegates to:

* unknown formats always pass (format_checkers.go:182-185);
* non-string inputs always pass (each checker type-asserts to string);
* date/time/date-time follow Go ``time.Parse`` semantics, including its
  documented quirk of accepting fractional seconds even when the layout has
  none, and rejecting leap seconds;
* uri/uri-reference/uri-template/iri follow Go ``net/url.Parse`` semantics
  (scheme grammar, host charset, last-colon numeric port, %-escapes);
* email/idn-email follow Go ``net/mail.ParseAddress`` (RFC 5322 addr-spec,
  optional display name, UTF-8 atext per RFC 6532).

The registry is a plain dict so users can add/remove checkers
(reference format_checkers.go:147-173). A checker is ``Callable[[object],
bool]``.
"""

from __future__ import annotations

import ipaddress
import re
from urllib.parse import unquote

__all__ = ["FormatRegistry", "default_registry", "is_format"]

_RX_HOSTNAME = re.compile(
    r"^([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9\-]{0,61}[a-zA-Z0-9])"
    r"(\.([a-zA-Z0-9]|[a-zA-Z0-9][a-zA-Z0-9\-]{0,61}[a-zA-Z0-9]))*\Z"
)
_RX_URI_TEMPLATE = re.compile(r"^([^{]*({[^}]*})?)*\Z")
_RX_UUID = re.compile(r"(?i)^[a-f0-9]{8}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{4}-[a-f0-9]{12}\Z")
_RX_JSON_POINTER = re.compile(r"^(?:/(?:[^~/]|~0|~1)*)*\Z")
_RX_REL_JSON_POINTER = re.compile(r"^(?:0|[1-9][0-9]*)(?:#|(?:/(?:[^~/]|~0|~1)*)*)\Z")

_RX_DATE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})\Z")
# Go layout "15" (hour) parses 1-2 digits; zero-padded units are fixed-width.
# Fractional seconds are accepted by time.Parse even without ".9" in layout.
_FRAC = r"(?:\.\d+)?"
_ZONE = r"(?:Z|[+-]\d{2}:\d{2})"
_RX_TIME = re.compile(r"^(\d{1,2}):(\d{2}):(\d{2})" + _FRAC + r"\Z")
_RX_TIME_TZ = re.compile(r"^(\d{1,2}):(\d{2}):(\d{2})" + _FRAC + _ZONE + r"\Z")
_RX_DATETIME = re.compile(
    r"^(\d{4})-(\d{2})-(\d{2})T(\d{1,2}):(\d{2}):(\d{2})" + _FRAC + _ZONE + r"\Z"
)

_DAYS = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)


def _valid_ymd(y: int, m: int, d: int) -> bool:
    if not 1 <= m <= 12 or d < 1:
        return False
    maxd = _DAYS[m - 1]
    if m == 2 and (y % 4 == 0 and (y % 100 != 0 or y % 400 == 0)):
        maxd = 29
    return d <= maxd


def _valid_hms(h: int, mi: int, s: int) -> bool:
    # Go time.Parse rejects leap seconds (second must be 0-59).
    return h <= 23 and mi <= 59 and s <= 59


def _is_date(s: str) -> bool:
    m = _RX_DATE.match(s)
    return bool(m) and _valid_ymd(int(m[1]), int(m[2]), int(m[3]))


def _is_time_parts(s: str) -> bool:
    for rx in (_RX_TIME_TZ, _RX_TIME):
        m = rx.match(s)
        if m:
            return _valid_hms(int(m[1]), int(m[2]), int(m[3]))
    return False


def _is_datetime(s: str) -> bool:
    # layouts tried by the reference: time, time+zone, date, RFC3339(Nano)
    if _is_time_parts(s) or _is_date(s):
        return True
    m = _RX_DATETIME.match(s)
    if not m:
        return False
    return _valid_ymd(int(m[1]), int(m[2]), int(m[3])) and _valid_hms(
        int(m[4]), int(m[5]), int(m[6])
    )


# --- Go net/url.Parse emulation -------------------------------------------

_SCHEME_RX = re.compile(r"^[a-zA-Z][a-zA-Z0-9+\-.]*$")
_PCT_RX = re.compile(r"%[0-9a-fA-F]{2}")
_USERINFO_OK = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
    "-._~!$&'()*+,;=:%"
)


class _URLError(Exception):
    pass


def _check_escapes(s: str) -> None:
    i = 0
    while True:
        i = s.find("%", i)
        if i < 0:
            return
        if not _PCT_RX.match(s, i):
            raise _URLError("invalid URL escape")
        i += 3


def _split_scheme(raw: str) -> tuple[str, str]:
    """Return (scheme, rest) per Go getscheme()."""
    for i, c in enumerate(raw):
        if c.isalpha() and ord(c) < 128:
            continue
        if (c.isdigit() and ord(c) < 128) or c in "+-.":
            if i == 0:
                return "", raw  # no scheme
            continue
        if c == ":":
            if i == 0:
                raise _URLError("missing protocol scheme")
            return raw[:i].lower(), raw[i + 1 :]
        return "", raw  # invalid scheme char -> treat whole as path
    return "", raw


def _parse_host(host: str) -> None:
    if host.startswith("["):
        j = host.rfind("]")
        if j < 0:
            raise _URLError("missing ']' in host")
        port = host[j + 1 :]
        if port and not (port.startswith(":") and port[1:].isdigit()):
            raise _URLError("invalid port after host")
        return
    i = host.rfind(":")
    if i >= 0:
        port = host[i + 1 :]
        if port and not port.isdigit():
            raise _URLError("invalid port after host")
        host = host[:i]
    for c in host:
        o = ord(c)
        if o < 0x80 and c in ' "<>':
            raise _URLError("invalid character in host name")
    _check_escapes(host)


def go_url_parse(raw: str) -> dict:
    """Parse ``raw`` the way Go net/url.Parse does; raise _URLError on the
    inputs Go rejects. Returns {scheme, host, path} (path is unescaped)."""
    for c in raw:
        o = ord(c)
        if o < 0x20 or o == 0x7F:
            raise _URLError("invalid control character in URL")
    frag_at = raw.find("#")
    if frag_at >= 0:
        frag = raw[frag_at + 1 :]
        _check_escapes(frag)
        raw = raw[:frag_at]
    scheme, rest = _split_scheme(raw)
    if not scheme and not rest.startswith("/"):
        # Go: "first path segment in URL cannot contain colon"
        if ":" in rest.split("/", 1)[0]:
            raise _URLError("first path segment in URL cannot contain colon")
    q_at = rest.find("?")
    if q_at >= 0:
        _check_escapes(rest[q_at + 1 :])
        rest = rest[:q_at]
    host = ""
    if rest.startswith("//"):
        authority = rest[2:]
        slash = authority.find("/")
        if slash >= 0:
            rest = authority[slash:]
            authority = authority[:slash]
        else:
            rest = ""
        at = authority.rfind("@")
        if at >= 0:
            for c in authority[:at]:
                if c not in _USERINFO_OK and ord(c) < 0x80:
                    raise _URLError("invalid userinfo")
            _check_escapes(authority[:at])
            authority = authority[at + 1 :]
        _parse_host(authority)
        host = authority
    elif scheme and not rest.startswith("/"):
        # opaque part (mailto:, news:, urn: ...) — Go stores it unparsed
        _check_escapes(rest)
        return {"scheme": scheme, "host": "", "path": ""}
    _check_escapes(rest)
    return {"scheme": scheme, "host": host, "path": unquote(rest)}


# --- Go net/mail.ParseAddress emulation ------------------------------------

_ATEXT = set("ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789"
             "!#$%&'*+-/=?^_`{|}~")


def _is_atext(c: str, dot: bool = False) -> bool:
    if ord(c) > 127:
        return True  # RFC 6532 UTF-8 atext (Go net/mail accepts)
    return c in _ATEXT or (dot and c == ".")


def _consume_atom(s: str, i: int, dot: bool) -> tuple[str, int]:
    j = i
    while j < len(s) and _is_atext(s[j], dot):
        j += 1
    atom = s[i:j]
    if not atom or atom.startswith(".") or atom.endswith(".") or ".." in atom:
        raise _URLError("bad atom")
    return atom, j


def _consume_quoted(s: str, i: int) -> tuple[str, int]:
    j = i + 1
    out = []
    while j < len(s):
        c = s[j]
        if c == "\\" and j + 1 < len(s):
            out.append(s[j + 1])
            j += 2
            continue
        if c == '"':
            return "".join(out), j + 1
        if ord(c) < 0x20 and c != "\t":
            break
        out.append(c)
        j += 1
    raise _URLError("unterminated quoted string")


def _consume_addr_spec(s: str, i: int) -> int:
    """Parse local@domain starting at i, return index after."""
    if i >= len(s):
        raise _URLError("empty addr-spec")
    if s[i] == '"':
        local, i = _consume_quoted(s, i)
        if not local:
            raise _URLError("empty quoted local part")
    else:
        local, i = _consume_atom(s, i, dot=True)
    if i >= len(s) or s[i] != "@":
        raise _URLError("missing @")
    i += 1
    # Go net/mail: domain is dot-atom only (no domain literals)
    _, i = _consume_atom(s, i, dot=True)
    return i


def go_parse_mail_address(s: str) -> bool:
    s = s.strip()
    if not s:
        return False
    try:
        # Either bare addr-spec, or display-name <addr-spec>
        lt = s.rfind("<")
        if lt >= 0 and s.endswith(">"):
            inner = s[lt + 1 : -1]
            i = _consume_addr_spec(inner, 0)
            return i == len(inner)
        i = _consume_addr_spec(s, 0)
        return i == len(s)
    except _URLError:
        return False


# --- the checkers -----------------------------------------------------------


def _string_checker(fn):
    def check(value) -> bool:
        if not isinstance(value, str):
            return True  # non-strings always pass (format_checkers.go:192-195)
        return fn(value)

    return check


@_string_checker
def _chk_date(s: str) -> bool:
    return _is_date(s)


@_string_checker
def _chk_time(s: str) -> bool:
    return _is_time_parts(s)


@_string_checker
def _chk_datetime(s: str) -> bool:
    return _is_datetime(s)


@_string_checker
def _chk_hostname(s: str) -> bool:
    return bool(_RX_HOSTNAME.match(s)) and len(s) < 256


@_string_checker
def _chk_email(s: str) -> bool:
    return go_parse_mail_address(s)


@_string_checker
def _chk_ipv4(s: str) -> bool:
    try:
        ipaddress.ip_address(s)
    except ValueError:
        return False
    return "." in s


@_string_checker
def _chk_ipv6(s: str) -> bool:
    try:
        ipaddress.ip_address(s)
    except ValueError:
        return False
    return ":" in s


@_string_checker
def _chk_uri(s: str) -> bool:
    try:
        u = go_url_parse(s)
    except _URLError:
        return False
    return u["scheme"] != "" and "\\" not in s


@_string_checker
def _chk_uri_reference(s: str) -> bool:
    try:
        go_url_parse(s)
    except _URLError:
        return False
    return "\\" not in s


@_string_checker
def _chk_uri_template(s: str) -> bool:
    try:
        u = go_url_parse(s)
    except _URLError:
        return False
    if "\\" in s:
        return False
    return bool(_RX_URI_TEMPLATE.match(u["path"]))


@_string_checker
def _chk_uuid(s: str) -> bool:
    return bool(_RX_UUID.match(s))


@_string_checker
def _chk_regex(s: str) -> bool:
    if s == "":
        return True
    # RE2 compile check; Python `re` accepts a superset (backrefs,
    # lookaround, \Z) — reject the constructs RE2 refuses.
    if re.search(r"\(\?<?[=!]", s) or re.search(r"(?<!\\)\\[1-9]", s) \
            or re.search(r"(?<!\\)\\Z", s):
        return False
    try:
        re.compile(s)
    except re.error:
        return False
    return True


@_string_checker
def _chk_json_pointer(s: str) -> bool:
    return bool(_RX_JSON_POINTER.match(s))


@_string_checker
def _chk_rel_json_pointer(s: str) -> bool:
    return bool(_RX_REL_JSON_POINTER.match(s))


class FormatRegistry:
    """Named format checkers; unknown names always pass."""

    def __init__(self):
        self._checkers = {
            "date": _chk_date,
            "time": _chk_time,
            "date-time": _chk_datetime,
            "hostname": _chk_hostname,
            "email": _chk_email,
            "idn-email": _chk_email,
            "ipv4": _chk_ipv4,
            "ipv6": _chk_ipv6,
            "uri": _chk_uri,
            "uri-reference": _chk_uri_reference,
            "iri": _chk_uri,
            "iri-reference": _chk_uri_reference,
            "uri-template": _chk_uri_template,
            "uuid": _chk_uuid,
            "regex": _chk_regex,
            "json-pointer": _chk_json_pointer,
            "relative-json-pointer": _chk_rel_json_pointer,
        }

    def add(self, name: str, checker) -> "FormatRegistry":
        self._checkers[name] = checker
        return self

    def remove(self, name: str) -> "FormatRegistry":
        self._checkers.pop(name, None)
        return self

    def has(self, name: str) -> bool:
        return name in self._checkers

    def is_format(self, name: str, value) -> bool:
        checker = self._checkers.get(name)
        if checker is None:
            return True  # unknown formats always pass
        return checker(value)


default_registry = FormatRegistry()


def is_format(name: str, value) -> bool:
    return default_registry.is_format(name, value)
