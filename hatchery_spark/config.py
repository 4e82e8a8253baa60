"""Route configuration + selectors.

Semantics rebuilt from the reference topology model (not ported):
  - Stream {src, dst, id, tags}            → RouteConfig {route_id, tags, predicate, sink}
    (/root/reference/stream.go:31-37)
  - Streams.Validate — non-empty ids, duplicate-ID rejection
    (/root/reference/stream.go:12-28, 77-88)
  - SelectByID / SelectByTag / SelectAll  → selector callables
    (/root/reference/hatchery.go:81-109)
  - selector union + dedup-by-id          → select_routes()
    (/root/reference/hatchery.go:37-49)

Route configs are plain Python (driver-side "logical plan" inputs); they never
become a big DataFrame. Row-level routing uses each route's SQL predicate, so
Catalyst can push the route filters into the scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Sequence


class RouteValidationError(ValueError):
    """Raised before any Spark action when the topology is invalid."""


@dataclass(frozen=True)
class RouteConfig:
    """One fan-out destination: which rows go where.

    predicate is a Spark SQL boolean expression evaluated over the enriched
    transcripts schema (conv_id, turn_idx, role, text, tool, ts, actor, action,
    resource, severity, service, category).
    """

    route_id: str
    tags: tuple[str, ...] = ()
    predicate: str = "true"
    sink_path: str | None = None
    # parquet (columnar default) | json (≡ reference jsonl: line-delimited) |
    # yaml | log (raw text passthrough — the reference's empty-format default)
    # — reference DataFormat: /root/reference/pkg/types/format.go:3-16
    sink_format: str = "parquet"

    def validate(self) -> None:
        if not self.route_id:
            raise RouteValidationError("route has no ID")
        # the id names one sink directory and one manifest file
        if self.route_id in (".", "..") or any(c in self.route_id for c in "/\\"):
            raise RouteValidationError(f"route ID {self.route_id!r} is not one path segment")
        if self.sink_format not in ("parquet", "json", "yaml", "log"):
            raise RouteValidationError(
                f"route {self.route_id!r}: unsupported sink_format {self.sink_format!r}"
            )
        if not self.predicate or not self.predicate.strip():
            raise RouteValidationError(f"route {self.route_id!r}: empty predicate")


def validate_routes(routes: Sequence[RouteConfig]) -> None:
    """Topology validation: per-route checks + duplicate-ID rejection."""
    seen: set[str] = set()
    for r in routes:
        r.validate()
        if r.route_id in seen:
            raise RouteValidationError(f"duplicated route ID: {r.route_id}")
        seen.add(r.route_id)


# A Selector maps the full route list to the subset that should run.
Selector = Callable[[Sequence[RouteConfig]], list[RouteConfig]]


def select_by_id(*ids: str) -> Selector:
    """Equality filter over route IDs."""
    wanted = set(ids)

    def _sel(routes: Sequence[RouteConfig]) -> list[RouteConfig]:
        return [r for r in routes if r.route_id in wanted]

    return _sel


def select_by_tag(*tags: str) -> Selector:
    """Membership filter: route selected if ANY of its tags matches."""
    wanted = set(tags)

    def _sel(routes: Sequence[RouteConfig]) -> list[RouteConfig]:
        return [r for r in routes if wanted.intersection(r.tags)]

    return _sel


def select_all() -> Selector:
    """Constant-true selector."""

    def _sel(routes: Sequence[RouteConfig]) -> list[RouteConfig]:
        return list(routes)

    return _sel


def select_routes(
    routes: Sequence[RouteConfig], selectors: Sequence[Selector]
) -> list[RouteConfig]:
    """OR of selectors, deduplicated by route_id, preserving definition order.

    Raises if the topology is invalid or no route matches (the reference fails
    the run with ErrNoStreamFound in that case).
    """
    validate_routes(routes)
    if not selectors:
        selectors = [select_all()]
    chosen: dict[str, RouteConfig] = {}
    for sel in selectors:
        for r in sel(routes):
            chosen.setdefault(r.route_id, r)
    ordered = [r for r in routes if r.route_id in chosen]
    if not ordered:
        raise RouteValidationError("no route matched the given selectors")
    return ordered


# Default fixture topology used by tests/bench (4 routes; overlapping predicates so
# some rows fan out to multiple sinks, and one row class matches no route).
DEFAULT_ROUTES: tuple[RouteConfig, ...] = (
    RouteConfig(
        route_id="sec-alerts",
        tags=("security", "alerts"),
        predicate="severity IN ('error','critical')",
    ),
    RouteConfig(
        route_id="chat-archive",
        tags=("archive", "chat"),
        predicate="category = 'chat'",
    ),
    RouteConfig(
        route_id="auth-audit",
        tags=("security", "audit"),
        predicate="action IN ('user_login','token_created','permission_granted')",
    ),
    RouteConfig(
        route_id="firehose-sample",
        tags=("sample",),
        predicate="pmod(xxhash64(conv_id, turn_idx), 100) < 5",
    ),
)
