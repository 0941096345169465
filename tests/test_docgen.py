"""`doc`/`dot` generators (plans/docgen.py) over the application wiring
that plans/spec.validate_application decides."""

from pincette_json_streams_spark.plans.docgen import to_dot, to_markdown


def _row(md: str, name: str) -> str:
    (row,) = [line for line in md.splitlines()
              if line.startswith(f"| {name} |")]
    return row


def _edges(dot: str) -> set[tuple[str, str]]:
    return {tuple(s.strip().strip('";').split('" -> "'))
            for s in dot.splitlines() if " -> " in s}


PURPOSES = ("aggregate", "command", "event", "event-full", "reply")


def test_aggregate_topics_and_purpose_stream_consumer():
    spec = {"application": "shop", "parts": [
        {"type": "stream", "name": "s", "fromStream": "shop-order-event",
         "toTopic": "out"},
        {"type": "aggregate", "aggregateType": "order"},
    ]}
    md = to_markdown(spec)
    assert "`shop-order-command`" in _row(md, "order").split("|")[3]
    produces = _row(md, "order").split("|")[4]
    sunk = [p for p in PURPOSES if p != "command"]
    assert all(f"`shop-order-{p}`" in produces for p in sunk)
    assert "`shop-order-command`" not in produces
    assert _row(md, "s") == "| s | stream | `shop-order-event` | `out` |"

    edges = _edges(to_dot(spec))
    assert ("ext_shop-order-command", "part_order") in edges
    # the command topic is the part's input, never its output
    assert ("part_order", "ext_shop-order-command") not in edges
    assert {("part_order", f"ext_shop-order-{p}") for p in sunk} <= edges
    assert ("part_order", "part_s") in edges
    # every edge ends on a declared node
    nodes = {line.split('"')[1] for line in to_dot(spec).splitlines()
             if "[label=" in line}
    assert {n for e in edges for n in e} <= nodes


def test_merge_over_streams():
    spec = {"application": "m", "parts": [
        {"type": "merge", "name": "both", "fromStreams": ["a", "b"],
         "toCollection": "merged"},
        {"type": "stream", "name": "a", "fromTopic": "in"},
        {"type": "stream", "name": "b", "fromCollection": "people"},
    ]}
    md = to_markdown(spec)
    assert _row(md, "both") == "| both | merge | `a`, `b` | `merged` |"
    assert _row(md, "a") == "| a | stream | `in` | — |"
    dot = to_dot(spec)
    assert _edges(dot) == {
        ("ext_in", "part_a"), ("ext_people", "part_b"),
        ("part_a", "part_both"), ("part_b", "part_both"),
        ("part_both", "ext_merged"),
    }
    assert '"ext_merged" [label="merged", shape=cylinder]' in dot
    assert '"ext_in" [label="in", shape=cds]' in dot


def test_join_mixing_topic_and_stream_sides():
    spec = {"application": "j", "parts": [
        {"type": "stream", "name": "orders", "fromTopic": "raw-orders"},
        {"type": "join", "name": "j", "toTopic": "joined",
         "left": {"fromTopic": "people", "on": "$_id"},
         "right": {"fromStream": "orders", "on": "$pid"}},
    ]}
    md = to_markdown(spec)
    assert _row(md, "j") == "| j | join | `people`, `orders` | `joined` |"
    assert _edges(to_dot(spec)) == {
        ("ext_raw-orders", "part_orders"), ("ext_people", "part_j"),
        ("part_orders", "part_j"), ("part_j", "ext_joined"),
    }
