"""Query-language compiler tests (SURVEY.md §2.7;
reference spec /root/reference/docs/query.md)."""

from pincette_json_streams_spark.operators.context import ctx_for
from pincette_json_streams_spark.operators.match import compile_query


def ids(df, query):
    col = compile_query(query, ctx_for(df))
    return sorted(r["_id"] for r in df.filter(col).select("_id").collect())


class TestComparison:
    def test_implicit_eq(self, people):
        assert ids(people, {"name": "Alice"}) == ["p1"]
        assert ids(people, {"age": 28}) == ["p2", "p4"]

    def test_explicit(self, people):
        assert ids(people, {"age": {"$eq": 34}}) == ["p1"]
        assert ids(people, {"age": {"$gt": 30}}) == ["p1", "p3"]
        assert ids(people, {"age": {"$gte": 34}}) == ["p1", "p3"]
        assert ids(people, {"age": {"$lt": 30}}) == ["p2", "p4"]
        assert ids(people, {"age": {"$ne": 28}}) == ["p1", "p3"]
        assert ids(people, {"age": {"$in": [28, 41]}}) == \
            ["p2", "p3", "p4"]
        assert ids(people, {"age": {"$nin": [28, 41]}}) == ["p1"]

    def test_range_conjunction(self, people):
        assert ids(people, {"age": {"$gte": 28, "$lt": 40}}) == \
            ["p1", "p2", "p4"]


class TestInWithNull:
    """MongoDB's null rule for ``$in``/``$nin``: a null in the list
    matches a null or absent field under ``$in`` and excludes it under
    ``$nin``; the result is never NULL, so ``$nor`` sees it too."""

    ALL = ["r1", "r2", "r3"]

    def test_null_absent_and_present_rows(self, spark):
        df = spark.createDataFrame(
            [("r1", None, ["a", None]), ("r2", "x", ["b"]),
             ("r3", "y", [])], "_id string, b string, t array<string>")
        assert ids(df, {"b": {"$in": [None, "x"]}}) == ["r1", "r2"]
        assert ids(df, {"b": {"$nin": [None, "x"]}}) == ["r3"]
        assert ids(df, {"b": {"$in": ["x"]}}) == ["r2"]
        assert ids(df, {"b": {"$nin": ["x"]}}) == ["r1", "r3"]
        assert ids(df, {"b": {"$in": [None]}}) == ["r1"]
        assert ids(df, {"$nor": [{"b": {"$in": ["x"]}}]}) == ["r1", "r3"]
        # absent field: null in the list decides
        assert ids(df, {"nosuch": {"$in": [None, "x"]}}) == self.ALL
        assert ids(df, {"nosuch": {"$nin": [None, "x"]}}) == []
        assert ids(df, {"nosuch": {"$in": ["x"]}}) == []
        assert ids(df, {"nosuch": {"$nin": ["x"]}}) == self.ALL
        # the value-query form ($elemMatch) builds the same condition
        assert ids(df, {"t": {"$elemMatch": {"$in": [None]}}}) == ["r1"]
        assert ids(df, {"t": {"$elemMatch": {"$nin": [None, "a"]}}}) == \
            ["r2"]


class TestLogical:
    def test_and_or_nor(self, people):
        assert ids(people, {"$and": [{"age": {"$gt": 25}},
                                     {"balance": {"$gt": 0}}]}) == \
            ["p1", "p4"]
        assert ids(people, {"$or": [{"name": "Alice"},
                                    {"name": "Bob"}]}) == ["p1", "p2"]
        assert ids(people, {"$nor": [{"age": {"$lt": 30}},
                                     {"name": "Carol"}]}) == ["p1"]

    def test_not(self, people):
        assert ids(people, {"age": {"$not": {"$gt": 30}}}) == ["p2", "p4"]
        assert ids(people, {"name": {"$not": {"$regex": "^A"}}}) == \
            ["p2", "p3", "p4"]


class TestElement:
    def test_exists(self, people):
        assert ids(people, {"address": {"$exists": True}}) == \
            ["p1", "p2", "p3"]
        assert ids(people, {"address": {"$exists": False}}) == ["p4"]
        # absent-from-schema field
        assert ids(people, {"nosuch": {"$exists": False}}) == \
            ["p1", "p2", "p3", "p4"]
        assert ids(people, {"nosuch": {"$exists": True}}) == []

    def test_nested_path(self, people):
        assert ids(people, {"address.city": "Ghent"}) == ["p1", "p3"]


class TestEvaluation:
    def test_expr(self, people):
        assert ids(people, {"$expr": {"$gt": ["$balance",
                                              {"$multiply":
                                               ["$age", 20]}]}}) == \
            ["p1", "p4"]

    def test_expr_nested(self, people):
        # reference extension: $expr at any nesting level (docs/query.md:156)
        assert ids(people, {"$or": [
            {"$expr": {"$eq": ["$name", "Carol"]}},
            {"age": 34},
        ]}) == ["p1", "p3"]

    def test_mod(self, people):
        assert ids(people, {"age": {"$mod": [2, 0]}}) == ["p1", "p2", "p4"]

    def test_regex(self, people):
        assert ids(people, {"name": {"$regex": "^[AB]"}}) == ["p1", "p2"]
        assert ids(people, {"name": {"$regex": "/^a/i"}}) == ["p1"]


class TestArrayOps:
    def test_size_all_elem(self, people):
        assert ids(people, {"tags": {"$size": 2}}) == ["p1", "p4"]
        assert ids(people, {"tags": {"$all": ["red", "blue"]}}) == ["p1"]
        assert ids(people, {"tags": {"$elemMatch": {"$eq": "green"}}}) == \
            ["p2"]

    def test_array_contains_implicit(self, people):
        # Mongo: {field: v} matches arrays containing v — divergence: we
        # require $elemMatch for membership on typed array columns.
        assert ids(people, {"tags": {"$elemMatch": {"$in":
                                                    ["red", "green"]}}}) \
            == ["p1", "p2"]


class TestBitwise:
    def test_bits(self, spark):
        df = spark.createDataFrame(
            [("a", 0b1010), ("b", 0b0110), ("c", 0b0001)], "_id string, v int"
        )
        assert ids(df, {"v": {"$bitsAllSet": 0b0010}}) == ["a", "b"]
        assert ids(df, {"v": {"$bitsAllSet": [1]}}) == ["a", "b"]
        assert ids(df, {"v": {"$bitsAllClear": 0b0001}}) == ["a", "b"]
        assert ids(df, {"v": {"$bitsAnySet": 0b1001}}) == ["a", "c"]
        assert ids(df, {"v": {"$bitsAnyClear": 0b1010}}) == ["b", "c"]


class TestMisc:
    def test_comment_ignored(self, people):
        assert ids(people, {"age": 34, "$comment": "why not"}) == ["p1"]

    def test_type(self, people):
        assert ids(people, {"name": {"$type": "string"}}) == \
            ["p1", "p2", "p3", "p4"]


class TestJsonSchema:
    """$jsonSchema (MongoDB draft-4 subset) compiled structurally
    against the DataFrame schema."""

    def test_types_and_required(self, people):
        assert ids(people, {"$jsonSchema": {
            "required": ["name", "age"],
            "properties": {"name": {"type": "string"},
                           "age": {"bsonType": "int"}}}}) == \
            ["p1", "p2", "p3", "p4"]
        # required on a present-but-null field fails (p4.address null)
        assert ids(people, {"$jsonSchema": {
            "required": ["address"]}}) == ["p1", "p2", "p3"]
        # statically absent required field matches nothing
        assert ids(people, {"$jsonSchema": {"required": ["ghost"]}}) == []

    def test_numeric_string_bounds(self, people):
        assert ids(people, {"$jsonSchema": {"properties": {
            "age": {"minimum": 28, "maximum": 40,
                    "exclusiveMaximum": False},
            "name": {"minLength": 3, "maxLength": 5,
                     "pattern": "^[A-Z]"}}}}) == ["p1", "p2", "p4"]
        assert ids(people, {"$jsonSchema": {"properties": {
            "age": {"minimum": 28, "exclusiveMinimum": True}}}}) == \
            ["p1", "p3"]
        assert ids(people, {"$jsonSchema": {"properties": {
            "age": {"multipleOf": 7}}}}) == ["p2", "p4"]

    def test_enum_arrays_nested(self, people):
        assert ids(people, {"$jsonSchema": {"properties": {
            "name": {"enum": ["Alice", "Dave"]}}}}) == ["p1", "p4"]
        assert ids(people, {"$jsonSchema": {"properties": {
            "tags": {"type": "array", "minItems": 1,
                     "uniqueItems": True,
                     "items": {"type": "string",
                               "pattern": "^(red|blue|green)$"}}}}}) == \
            ["p1", "p2"]  # p3 [] fails minItems; p4 duplicates fail
        # nested object properties + required, validated only when the
        # object is present (p4.address is null -> passes vacuously)
        assert ids(people, {"$jsonSchema": {"properties": {
            "address": {"type": "object", "required": ["zip"],
                        "properties": {
                            "zip": {"pattern": "^9"}}}}}}) == \
            ["p1", "p2", "p3", "p4"]

    def test_combinators(self, people):
        assert ids(people, {"$jsonSchema": {"anyOf": [
            {"properties": {"age": {"minimum": 40}}, "required": ["age"]},
            {"properties": {"balance": {"maximum": 0}},
             "required": ["balance"]}]}}) == ["p2", "p3"]
        assert ids(people, {"$jsonSchema": {"not": {
            "properties": {"age": {"minimum": 30}},
            "required": ["age"]}}}) == ["p2", "p4"]
        assert ids(people, {"$jsonSchema": {"oneOf": [
            {"properties": {"age": {"minimum": 30}}, "required": ["age"]},
            {"properties": {"name": {"pattern": "^C"}},
             "required": ["name"]}]}}) == ["p1"]  # Carol matches BOTH

    def test_mixed_with_plain_query(self, people):
        assert ids(people, {
            "age": {"$gte": 28},
            "$jsonSchema": {"properties": {"balance": {"minimum": 0}},
                            "required": ["balance"]}}) == \
            ["p1", "p3", "p4"]

    def test_unsupported_keyword_raises(self, people):
        import pytest
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        with pytest.raises(UnsupportedExpression):
            ids(people, {"$jsonSchema": {"patternProperties": {}}})


class TestJsonSchemaProperty:
    def test_matches_reference_validator(self, spark):
        """Compiled $jsonSchema == python-jsonschema Draft4 on random
        documents and random schemas from the supported subset (absent
        fields modeled as omitted keys, the engine's null==absent
        convention)."""
        from hypothesis import given, settings
        from hypothesis import strategies as st
        from jsonschema import Draft4Validator

        from pincette_json_streams_spark.operators.context import ctx_for

        vals = st.one_of(st.none(), st.integers(-5, 5))
        strs = st.one_of(st.none(), st.sampled_from(
            ["", "abc", "axe", "zb", "b", "aaaa"]))
        arrs = st.one_of(st.none(), st.lists(
            st.sampled_from(["x", "y", "z"]), max_size=3))

        str_schema = st.fixed_dictionaries({}, optional={
            "type": st.just("string"),
            "minLength": st.integers(0, 4),
            "maxLength": st.integers(0, 5),
            "pattern": st.sampled_from(["^a", "b$", "[0-9]"]),
            "enum": st.lists(st.sampled_from(["abc", "axe", "b"]),
                             min_size=1, max_size=3, unique=True),
        })
        int_schema = st.fixed_dictionaries({}, optional={
            "type": st.just("integer"),
            "minimum": st.integers(-4, 4),
            "maximum": st.integers(-4, 4),
            "exclusiveMinimum": st.booleans(),
            "multipleOf": st.integers(1, 3),
        })
        arr_schema = st.fixed_dictionaries({}, optional={
            "type": st.just("array"),
            "minItems": st.integers(0, 3),
            "maxItems": st.integers(0, 3),
            "uniqueItems": st.booleans(),
            "items": st.fixed_dictionaries(
                {}, optional={"enum": st.lists(
                    st.sampled_from(["x", "y"]), min_size=1,
                    max_size=2, unique=True)}),
        })
        schema_st = st.fixed_dictionaries({}, optional={
            "properties": st.fixed_dictionaries({}, optional={
                "s": str_schema, "i": int_schema, "arr": arr_schema}),
            "required": st.lists(st.sampled_from(["s", "i", "arr"]),
                                 max_size=3, unique=True),
        })

        @settings(max_examples=15, deadline=None)
        @given(st.lists(st.tuples(strs, vals, arrs), min_size=1,
                        max_size=6),
               schema_st)
        def check(rows_in, schema):
            # exclusiveMinimum without minimum is invalid draft-4 usage
            p = schema.get("properties", {}).get("i", {})
            if "exclusiveMinimum" in p and "minimum" not in p:
                del p["exclusiveMinimum"]
            df = spark.createDataFrame(
                [(j, s, i, a) for j, (s, i, a) in enumerate(rows_in)],
                "rid long, s string, i long, arr array<string>")
            from pincette_json_streams_spark.operators.match import (
                compile_query,
            )
            pred = compile_query({"$jsonSchema": schema}, ctx_for(df))
            mine = sorted(r["rid"] for r in df.filter(pred).collect())
            v = Draft4Validator(schema)
            ref = []
            for j, (s, i, a) in enumerate(rows_in):
                doc = {k: x for k, x in
                       (("rid", j), ("s", s), ("i", i), ("arr", a))
                       if x is not None}
                if v.is_valid(doc):
                    ref.append(j)
            assert mine == ref, (schema, rows_in, mine, ref)

        check()


class TestJsonSchemaNullElements:
    def test_null_array_elements_vacuous_for_value_keywords(self, spark):
        """Draft-4: type-constrained keywords ignore null elements;
        `type` still rejects them."""
        from pincette_json_streams_spark.operators.context import ctx_for
        from pincette_json_streams_spark.operators.match import (
            compile_query,
        )
        df = spark.createDataFrame(
            [("r1", [None, 5]), ("r2", [0, 5]), ("r3", [5, 6])],
            "_id string, arr array<int>")

        def match(schema):
            return sorted(r["_id"] for r in df.filter(
                compile_query({"$jsonSchema": {"properties": {
                    "arr": schema}}}, ctx_for(df))).collect())

        # minimum ignores the null element (r1 valid), rejects 0 (r2)
        assert match({"items": {"minimum": 1}}) == ["r1", "r3"]
        # type: integer rejects the null element
        assert match({"items": {"type": "integer"}}) == ["r2", "r3"]


class TestHostileQueryMatrix:
    """Round-8 sweep: malformed query predicates must raise a named
    UnsupportedExpression at build time, never a raw Python/Py4J
    traceback ({$all: 5}, {$regex: 5}, {$bitsAllSet: "x"} leaked
    TypeError/Py4JError before the _field_op boundary guard)."""

    HOSTILE = [None, True, 0, 2.5, "", "x", [], [1], {},
               {"$gt": None}, {"$in": 5}, {"$regex": 5},
               {"$exists": "maybe"}, {"$mod": 3}, {"$mod": []},
               {"$mod": [0, 1]}, {"$size": "big"}, {"$all": 5},
               {"$elemMatch": 7}, {"$bitsAllSet": "x"}, {"$not": 5},
               {"$type": 3.7}]

    def test_no_raw_exceptions_at_compile(self, spark):
        from pincette_json_streams_spark.operators.context import (
            ctx_for,
        )
        from pincette_json_streams_spark.operators.expressions import (
            UnsupportedExpression,
        )
        from pincette_json_streams_spark.operators.match import (
            compile_query,
        )
        df = spark.createDataFrame(
            [(1, "s", 2.5, [1, 2])],
            "a long, b string, c double, d array<long>")
        ctx = ctx_for(df)
        crashes = []
        for field in ("a", "b", "d", "missing"):
            for h in self.HOSTILE:
                for spec in ({field: h}, {"$and": [{field: h}]},
                             {"$nor": [{field: h}]}):
                    try:
                        compile_query(spec, ctx)
                    except UnsupportedExpression:
                        pass
                    except Exception as e:  # noqa: BLE001
                        crashes.append((str(spec)[:40],
                                        type(e).__name__))
        assert not crashes, crashes[:10]
