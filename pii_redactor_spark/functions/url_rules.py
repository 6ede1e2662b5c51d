"""URL filtering + canonicalization rules (C4-style corpus pre-filter).

The first gate of a web-corpus pipeline runs before a single byte of page
text is touched: drop documents by URL alone (binary/media extensions,
admin/login pages, blocklisted hosts, pathological paths), and
canonicalize the URL (lowercase host, strip query/fragment and trailing
slash) so exact-URL dedup keys are stable.

Everything is a Column expression over the url string — JVM-side,
evaluated at scan speed, prunable before the (expensive) text columns are
even read. Host/path come from ``regexp_extract`` rather than
``parse_url`` so the DuckDB oracle can reproduce them with the identical
regex.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SCHEME = r"[a-zA-Z][a-zA-Z0-9+.-]*"
SCHEME_RE = rf"^({_SCHEME})://"
HOST_RE = rf"^{_SCHEME}://([^/?#]+)"
PATH_RE = rf"^{_SCHEME}://[^/?#]+(/[^?#]*)?"
EXT_RE = r"\.([A-Za-z0-9]+)$"

BLOCKED_EXTENSIONS = (
    "jpg jpeg png gif webp svg ico css js woff woff2 ttf mp3 mp4 avi mov "
    "zip gz tar rar exe dmg iso pdf"
).split()
BLOCKED_PATH_TOKENS = ("/wp-admin", "/wp-login", "/cgi-bin", "/login",
                       "/signup", "/cart", "/checkout")
# tokens are plain literals (letters, '/', '-'): safe unescaped in either
# regex dialect
BLOCKED_PATH_RE = "|".join(BLOCKED_PATH_TOKENS)
MAX_URL_LEN = 2048
MAX_PATH_DEPTH = 10


def _sql_list(xs) -> str:
    return "[" + ", ".join(f"'{x}'" for x in xs) + "]"


def host_of(url: Column | str) -> Column:
    u = F.col(url) if isinstance(url, str) else url
    return F.lower(F.regexp_extract(u, HOST_RE, 1))


def host_sql(url: str) -> str:
    return f"lower(regexp_extract({url}, '{HOST_RE}', 1))"


def path_of(url: Column | str) -> Column:
    u = F.col(url) if isinstance(url, str) else url
    return F.regexp_extract(u, PATH_RE, 1)


def path_sql(url: str) -> str:
    return f"regexp_extract({url}, '{PATH_RE}', 1)"


def canonical_url(url: Column | str) -> Column:
    """scheme://lowercased-host/path — query, fragment and trailing
    slashes stripped; empty path normalized to '/'. The stable
    exact-dedup key."""
    u = F.col(url) if isinstance(url, str) else url
    scheme = F.lower(F.regexp_extract(u, SCHEME_RE, 1))
    stripped = F.regexp_replace(path_of(u), r"/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    return F.concat(scheme, F.lit("://"), host_of(u), path)


def canonical_url_sql(url: str) -> str:
    """DuckDB twin of ``canonical_url``."""
    stripped = f"regexp_replace({path_sql(url)}, '/+$', '')"
    return (f"(lower(regexp_extract({url}, '{SCHEME_RE}', 1)) || '://' || "
            f"{host_sql(url)} || "
            f"CASE WHEN {stripped} = '' THEN '/' ELSE {stripped} END)")


def with_url_rules(
    df: DataFrame,
    url_col: str = "url",
    blocked_hosts: list[str] | None = None,
) -> DataFrame:
    """Attach host, path, canonical_url, url_keep, url_reasons."""
    u = F.col(url_col)
    host = host_of(u)
    path = path_of(u)
    ext = F.lower(F.regexp_extract(path, EXT_RE, 1))
    depth = F.size(F.filter(F.split(path, "/"),
                            lambda p: p != ""))
    checks: list[tuple[str, Column]] = [
        ("url_too_long", F.length(u) > MAX_URL_LEN),
        # a NULL url has no host: the gate fails closed on it
        ("no_host", F.coalesce(host, F.lit("")) == ""),
        ("blocked_extension", ext.isin(BLOCKED_EXTENSIONS)),
        ("path_too_deep", depth > MAX_PATH_DEPTH),
        ("blocked_path", F.lower(path).rlike(BLOCKED_PATH_RE)),
    ]
    if blocked_hosts:
        checks.append(("blocked_host", host.isin([h.lower() for h in blocked_hosts])))
    reasons = F.array_compact(F.array(*[
        F.when(cond, F.lit(name)) for name, cond in checks
    ]))
    return (
        df
        .withColumn("host", host)
        .withColumn("path", path)
        .withColumn("url_reasons", reasons)
        .withColumn("url_keep", F.size(F.col("url_reasons")) == 0)
    )


def url_rules_sql(table: str, url_col: str = "url",
                  blocked_hosts: list[str] | None = None) -> str:
    """DuckDB twin of ``with_url_rules``: every column of ``table`` plus
    host, path, url_reasons and url_keep."""
    host, path = host_sql(url_col), path_sql(url_col)
    ext = f"lower(regexp_extract({path}, '{EXT_RE}', 1))"
    depth = f"len(list_filter(string_split({path}, '/'), p -> p <> ''))"
    checks = [
        ("url_too_long", f"length({url_col}) > {MAX_URL_LEN}"),
        ("no_host", f"coalesce({host}, '') = ''"),
        ("blocked_extension",
         f"list_contains({_sql_list(BLOCKED_EXTENSIONS)}, {ext})"),
        ("path_too_deep", f"{depth} > {MAX_PATH_DEPTH}"),
        ("blocked_path", f"regexp_matches(lower({path}), '{BLOCKED_PATH_RE}')"),
    ]
    if blocked_hosts:
        checks.append(("blocked_host", f"list_contains("
                       f"{_sql_list(h.lower() for h in blocked_hosts)}, {host})"))
    reasons = ("list_filter(["
               + ", ".join(f"CASE WHEN {cond} THEN '{name}' END"
                           for name, cond in checks)
               + "], x -> x IS NOT NULL)")
    return f"""SELECT *, len(url_reasons) = 0 AS url_keep
FROM (SELECT *, {host} AS host, {path} AS path, {reasons} AS url_reasons
      FROM {table})"""
