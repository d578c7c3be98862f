"""Compiler coverage for the full function inventory (SURVEY.md §2.2),
including the functions the reference declares but leaves todo!()
(Concatenate, Lower, Upper, Replace, FnO) — implemented here as extensions.
Plus property-based checks (hypothesis) for the template parser and
percent-encoder against their specs."""

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mopper_spark import rules as R
from mopper_spark.compiler import FunctionCompiler, compile_extend
from mopper_spark.functions.encoding import pct_encode
from mopper_spark.functions.templates import TemplateParseError, parse_template


@pytest.fixture(scope="module")
def df(spark):
    return spark.createDataFrame(
        [("Alice", "x y", "10"), ("Bob", "z", "20")],
        "name string, words string, num string",
    )


def _vals(fc, df, term):
    return [r[0] for r in fc.select(df, [("v", term)]).collect()]


class TestExtensionFunctions:
    def test_lower_upper(self, df):
        fc = FunctionCompiler(df.columns)
        assert _vals(fc, df, fc.compile(R.Lower(R.Reference("name")))) == ["alice", "bob"]
        assert _vals(fc, df, fc.compile(R.Upper(R.Reference("name")))) == ["ALICE", "BOB"]

    def test_replace(self, df):
        fc = FunctionCompiler(df.columns)
        out = _vals(fc, df, fc.compile(R.Replace(R.Reference("words"), " ", "_")))
        assert out == ["x_y", "z"]

    def test_concatenate(self, df):
        fc = FunctionCompiler(df.columns)
        fn = R.Concatenate((R.Reference("name"), R.Constant("-"), R.Reference("num")))
        assert _vals(fc, df, fc.compile(fn)) == ["Alice-10", "Bob-20"]
        sep = R.Concatenate((R.Reference("name"), R.Reference("num")), separator="/")
        assert _vals(fc, df, fc.compile(sep)) == ["Alice/10", "Bob/20"]

    def test_fno_registry(self, df):
        fc = FunctionCompiler(
            df.columns,
            fno_registry={"ex:reverse": lambda value: F.reverse(value)},
        )
        fn = R.FnO("ex:reverse", (("value", R.Reference("name")),))
        assert _vals(fc, df, fc.compile(fn)) == ["ecilA", "boB"]

    def test_fno_nested_and_beside_sql(self, df):
        fc = FunctionCompiler(
            df.columns,
            fno_registry={"ex:reverse": lambda value: F.reverse(value)},
        )
        inner = R.FnO("ex:reverse", (("value", R.Lower(R.Reference("name"))),))
        fn = R.Concatenate(
            (R.FnO("ex:reverse", (("value", inner),)), R.Constant("/"), inner)
        )
        assert _vals(fc, df, fc.compile(fn)) == ["alice/ecila", "bob/bob"]

    def test_match(self, df):
        fc = FunctionCompiler(df.columns)
        fn = R.Match(
            R.Reference("name"),
            (("none", ()), ("A", ("Alice", "Al")), ("B", ("Alice", "Bob"))),
        )
        assert _vals(fc, df, fc.compile(fn)) == ["A", "B"]
        unmatched = R.Match(R.Reference("num"), (("x", ("1",)),))
        assert _vals(fc, df, fc.compile(unmatched)) == ["10", "20"]

    def test_constants_reach_spark_verbatim(self, df):
        # quotes, backslashes and ${...} (Spark SQL variable substitution)
        fc = FunctionCompiler(df.columns)
        text = "${spark.app.name} ${env:HOME} ${x} $5 'q' \\b \\u0041 \n"
        assert _vals(fc, df, fc.compile(R.Constant(text))) == [text, text]

    def test_odd_column_names(self, spark):
        names = ["a.b", "c d", "e`f", "g'h"]
        odd = spark.createDataFrame([("1", "2", "3", "4")], names)
        fc = FunctionCompiler(odd.columns)
        fn = R.Concatenate(tuple(R.Reference(n) for n in names), separator="|")
        assert _vals(fc, odd, fc.compile(fn)) == ["1|2|3|4"]
        with pytest.raises(ValueError, match="substitutes"):
            FunctionCompiler(["${x}"]).compile(R.Reference("${x}"))

    def test_fno_unregistered_raises(self, df):
        fc = FunctionCompiler(df.columns)
        with pytest.raises(NotImplementedError):
            fc.compile(R.FnO("ex:nope", ()))

    def test_template_string_standalone(self, df):
        fc = FunctionCompiler(df.columns)
        fn = R.TemplateString("hello {name}!")
        assert _vals(fc, df, fc.compile(fn)) == ["hello Alice!", "hello Bob!"]

    def test_nested_composition(self, df):
        # Iri(TemplateFunctionValue(UriEncode(Lower(Reference))))
        fc = FunctionCompiler(df.columns)
        fn = R.Iri(
            R.TemplateFunctionValue(
                "http://e.com/{words}",
                (("words", R.UriEncode(R.Lower(R.Reference("words")))),),
            ),
            "http://base/",
        )
        term = fc.compile(fn)
        assert term.kind == "iri"
        assert _vals(fc, df, term) == ["http://e.com/x%20y", "http://e.com/z"]

    def test_compile_extend_json_roundtrip(self, df):
        out, kinds = compile_extend(
            {"?v": {"type": "Upper", "inner_function": {"type": "Reference", "value": "name"}}},
            df,
        )
        assert kinds == {"v": "str"}
        assert [r.v for r in out.collect()] == ["ALICE", "BOB"]


class TestProperties:
    @given(st.text(alphabet=st.characters(blacklist_characters="{}\\"), max_size=40))
    @settings(max_examples=200, deadline=None)
    def test_parse_roundtrip_plain_text(self, s):
        parts = parse_template(s)
        assert "".join(t for _, t in parts) == s
        assert all(not v for v, _ in parts)

    @given(st.text(max_size=30))
    @settings(max_examples=200, deadline=None)
    def test_escaped_text_roundtrips(self, s):
        escaped = s.replace("\\", "\\\\").replace("{", "\\{").replace("}", "\\}")
        parts = parse_template(escaped)
        assert "".join(t for _, t in parts) == s

    @given(st.text(max_size=50))
    @settings(max_examples=300, deadline=None)
    def test_pct_encode_spec(self, s):
        out = pct_encode(s)
        # decodable back to the original
        from urllib.parse import unquote

        assert unquote(out, errors="strict") == s
        # every remaining raw char is ASCII-graphic and not URI-reserved
        for c in out:
            assert 0x21 <= ord(c) <= 0x7E
            if c != "%":
                assert c not in "!#$&'()*+,/:;=?@[]"

    @given(st.text(max_size=30))
    @settings(max_examples=200, deadline=None)
    def test_pct_encode_series_matches_scalar(self, s):
        from mopper_spark.functions.encoding import pct_encode_series

        out = pct_encode_series(pd.Series([s, s, "plain"]))
        assert list(out) == [pct_encode(s), pct_encode(s), "plain"]

    def test_unbalanced_always_raises(self):
        for bad in ["{", "}", "a{b", "a}b", "{a{b}}", "\\x", "end\\"]:
            with pytest.raises(TemplateParseError):
                parse_template(bad)


class TestPctEncodeNativeParity:
    """The native (pure-JVM) UriEncode compilation must match the python
    reference implementation byte-for-byte - one Spark job over a corpus
    of hypothesis-found tricky strings plus handwritten edge cases."""

    def test_native_matches_python(self, spark):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mopper_spark.compiler import pct_encode_native
        from mopper_spark.functions.encoding import pct_encode

        corpus = [
            "", " ", "%", "%%20", "a b", "100% done",
            "na\u00efve caf\u00e9 \u2615", "\ttab\nnl", "{curly} \\slash",
            'quote" tick` caret^ bar| lt< gt>', "\u00fcmlaut-\u00df",
            "\u65e5\u672c\u8a9e\u30c6\u30ad\u30b9\u30c8",
            "a" * 300, "%" * 50, "\u00a0",
        ]

        @settings(
            max_examples=300, deadline=None,
            suppress_health_check=[HealthCheck.function_scoped_fixture],
        )
        @given(st.text(max_size=40))
        def collect(s):
            corpus.append(s)

        collect()
        df = spark.createDataFrame([(s,) for s in corpus], "v string")
        rows = df.select("v", F.expr(pct_encode_native("v")).alias("e")).collect()
        for r in rows:
            assert r.e == pct_encode(r.v), repr(r.v)



class TestIriNativeParity:
    """iri_finalize_native (rlike, JVM) must match iri_finalize (python re)
    for every input - same regexes, two engines; hypothesis hunts for
    java/python regex semantic differences."""

    def test_native_matches_python(self, spark):
        import pandas as pd
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from mopper_spark.compiler import iri_finalize_native
        from mopper_spark.functions.iri import iri_finalize

        corpus = [
            "", "http://example.com/a", "http://example.com/a b",
            "relative/path", "//host/p", "?q=1", "#frag", "a:b", ":nope",
            "http://[::1]:8080/x", "http://[v7.abc]/", "http://1.2.3.4/",
            "mailto:x@y", "%41%zz", "%4", "sch3m+e:ok", "3scheme:no",
            "http://ex.com/\u00e9", "sp ace:x", "..", "./a/../b",
            # java '$' matches before a final newline; our anchors use \z
            "a\n", "http://ok.example/x\n", "line1\nline2", "b\r",
        ]

        @settings(max_examples=300, deadline=None,
                  suppress_health_check=[HealthCheck.function_scoped_fixture])
        @given(st.text(
            alphabet=st.sampled_from(list(
                "abzAZ09:/?#[]@!$&'()*+,;=%-._~ \\^{}<>\u00e9\u2615\n\r\t")),
            max_size=30))
        def collect(s):
            corpus.append(s)

        collect()
        for base in (None, "http://example.com/base/", "notascheme"):
            expected = list(iri_finalize(pd.Series(corpus), base))
            df = spark.createDataFrame([(s,) for s in corpus], "v string")
            got = [r.e for r in df.select(
                F.expr(iri_finalize_native("v", base)).alias("e")).collect()]
            assert got == expected, [
                (v, g, x) for v, g, x in zip(corpus, got, expected) if g != x
            ][:5]
