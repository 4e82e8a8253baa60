import pytest

from hatchery_spark.config import (
    RouteConfig,
    RouteValidationError,
    select_all,
    select_by_id,
    select_by_tag,
    select_routes,
    validate_routes,
)

ROUTES = [
    RouteConfig("a", tags=("x", "y")),
    RouteConfig("b", tags=("y",)),
    RouteConfig("c", tags=()),
]


def test_select_by_id():
    assert [r.route_id for r in select_routes(ROUTES, [select_by_id("b", "c")])] == ["b", "c"]


def test_select_by_tag_any_match():
    assert [r.route_id for r in select_routes(ROUTES, [select_by_tag("x")])] == ["a"]
    assert [r.route_id for r in select_routes(ROUTES, [select_by_tag("y")])] == ["a", "b"]


def test_select_all_default():
    assert [r.route_id for r in select_routes(ROUTES, [])] == ["a", "b", "c"]
    assert [r.route_id for r in select_routes(ROUTES, [select_all()])] == ["a", "b", "c"]


def test_selector_union_dedup():
    # route 'a' matches both selectors → appears once (hatchery.go:43-49 semantics)
    sel = [select_by_id("a"), select_by_tag("y")]
    assert [r.route_id for r in select_routes(ROUTES, sel)] == ["a", "b"]


def test_no_match_raises():
    with pytest.raises(RouteValidationError, match="no route matched"):
        select_routes(ROUTES, [select_by_id("nope")])


def test_duplicate_id_rejected():
    with pytest.raises(RouteValidationError, match="duplicated route ID"):
        validate_routes([RouteConfig("a"), RouteConfig("a")])


def test_empty_id_rejected():
    with pytest.raises(RouteValidationError, match="no ID"):
        validate_routes([RouteConfig("")])


def test_bad_format_rejected():
    with pytest.raises(RouteValidationError, match="sink_format"):
        validate_routes([RouteConfig("a", sink_format="avro2")])
    # every reference DataFormat is accepted (json≡jsonl, yaml, raw log)
    for fmt in ("parquet", "json", "yaml", "log"):
        validate_routes([RouteConfig("a", sink_format=fmt)])


@pytest.mark.parametrize("route_id", ["a/b", "../esc", "a\\b", ".", ".."])
def test_id_that_is_not_one_path_segment_rejected(route_id):
    # the id names the route's sink directory and its manifest file
    with pytest.raises(RouteValidationError, match="one path segment"):
        validate_routes([RouteConfig(route_id)])
    validate_routes([RouteConfig("a.b..c")])
