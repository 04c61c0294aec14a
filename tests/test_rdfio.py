"""RDF/XML + N-Triples ingest/export (S2, S3, S8)."""

from __future__ import annotations

import pytest

from rippledb_spark import TripleStore
from rippledb_spark.sources.rdfio import (
    parse_ntriples_line,
    parse_rdfxml,
    to_rdfxml,
)

RDFXML_SAMPLE = b"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:foaf="http://xmlns.com/foaf/0.1/"
         xmlns:dc="http://purl.org/dc/elements/1.1/">
  <foaf:Person rdf:about="http://ex.org/alice" foaf:nick="ali">
    <foaf:name>Alice</foaf:name>
    <foaf:knows rdf:resource="http://ex.org/bob"/>
    <dc:title xml:lang="fr">Mme</dc:title>
    <foaf:age rdf:datatype="http://www.w3.org/2001/XMLSchema#int">30</foaf:age>
    <foaf:based_near>
      <foaf:Place rdf:about="http://ex.org/wonderland"/>
    </foaf:based_near>
    <foaf:account rdf:nodeID="acct1"/>
  </foaf:Person>
  <rdf:Description rdf:about="http://ex.org/bob">
    <foaf:name>Bob</foaf:name>
  </rdf:Description>
</rdf:RDF>
"""


def test_parse_rdfxml_term_kinds():
    rows = parse_rdfxml(RDFXML_SAMPLE)
    by = {}
    for s, s_kind, p, o, o_kind, lang, dt in rows:
        by.setdefault(p.rsplit("/", 1)[-1].rsplit("#", 1)[-1], []).append(
            (s, s_kind, o, o_kind, lang, dt)
        )
    # typed node element → rdf:type triple
    assert ("http://ex.org/alice", "named", "http://xmlns.com/foaf/0.1/Person", "named", None, None) in by["type"]
    # plain literal
    assert ("http://ex.org/alice", "named", "Alice", "literal", None, None) in by["name"]
    # IRI object
    assert ("http://ex.org/alice", "named", "http://ex.org/bob", "named", None, None) in by["knows"]
    # lang-tagged literal
    assert ("http://ex.org/alice", "named", "Mme", "lang_literal", "fr", None) in by["title"]
    # typed literal
    assert by["age"] == [
        ("http://ex.org/alice", "named", "30", "typed_literal", None, "http://www.w3.org/2001/XMLSchema#int")
    ]
    # nested node element → object is its subject; nested node also typed
    assert ("http://ex.org/alice", "named", "http://ex.org/wonderland", "named", None, None) in by["based_near"]
    assert ("http://ex.org/wonderland", "named", "http://xmlns.com/foaf/0.1/Place", "named", None, None) in by["type"]
    # nodeID property → blank object
    assert ("http://ex.org/alice", "named", "_:acct1", "blank", None, None) in by["account"]
    # attribute property → literal
    assert ("http://ex.org/alice", "named", "ali", "literal", None, None) in by["nick"]


def test_parse_reference_corpus_file():
    data = open("/root/reference/models/cold-2010-complete.rdf", "rb").read()
    rows = parse_rdfxml(data)
    assert len(rows) > 400
    kinds = {r[4] for r in rows}
    assert {"named", "literal"} <= kinds


RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

RDFXML_CORNERS = b"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex.org/" xml:base="http://base.org/dir/doc">
  <rdf:Seq rdf:about="seq1">
    <rdf:li rdf:resource="a"/>
    <rdf:li rdf:resource="b"/>
  </rdf:Seq>
  <rdf:Description rdf:about="r1" xml:lang="en">
    <ex:label>hello</ex:label>
    <ex:meta rdf:parseType="Resource">
      <ex:width rdf:datatype="http://www.w3.org/2001/XMLSchema#int">5</ex:width>
    </ex:meta>
    <ex:items rdf:parseType="Collection">
      <rdf:Description rdf:about="i1"/>
      <rdf:Description rdf:about="i2"/>
    </ex:items>
    <ex:empty rdf:parseType="Collection"/>
    <ex:xml rdf:parseType="Literal"><b>bold</b></ex:xml>
    <ex:kids>
      <rdf:Description rdf:about="k1"/>
      <rdf:Description rdf:about="k2"/>
    </ex:kids>
    <ex:tagged xml:lang="fr">bonjour</ex:tagged>
  </rdf:Description>
  <rdf:Description rdf:ID="frag"><ex:v>x</ex:v></rdf:Description>
</rdf:RDF>
"""


def test_parse_rdfxml_container_li_numbering():
    rows = parse_rdfxml(RDFXML_CORNERS)
    seq = [(r[2], r[3]) for r in rows if r[0] == "http://base.org/dir/seq1"]
    assert (RDF_NS + "type", RDF_NS + "Seq") in seq
    # rdf:li expands to rdf:_1, rdf:_2 in document order, base-resolved
    assert (RDF_NS + "_1", "http://base.org/dir/a") in seq
    assert (RDF_NS + "_2", "http://base.org/dir/b") in seq


def test_parse_rdfxml_parsetype_resource():
    rows = parse_rdfxml(RDFXML_CORNERS)
    meta = [r for r in rows if r[2] == "http://ex.org/meta"]
    assert len(meta) == 1 and meta[0][4] == "blank"
    blank = meta[0][3]
    inner = [r for r in rows if r[0] == blank]
    assert inner == [
        (blank, "blank", "http://ex.org/width", "5", "typed_literal", None,
         "http://www.w3.org/2001/XMLSchema#int")
    ]


def test_parse_rdfxml_parsetype_collection():
    rows = parse_rdfxml(RDFXML_CORNERS)
    head = next(r for r in rows if r[2] == "http://ex.org/items")
    assert head[4] == "blank"
    # walk the cons list
    firsts, cell = [], head[3]
    while cell != RDF_NS + "nil":
        cell_rows = {r[2]: r[3] for r in rows if r[0] == cell}
        firsts.append(cell_rows[RDF_NS + "first"])
        cell = cell_rows[RDF_NS + "rest"]
    assert firsts == ["http://base.org/dir/i1", "http://base.org/dir/i2"]
    # empty collection points straight at rdf:nil
    empty = next(r for r in rows if r[2] == "http://ex.org/empty")
    assert (empty[3], empty[4]) == (RDF_NS + "nil", "named")


def test_parse_rdfxml_parsetype_literal_and_multichild():
    rows = parse_rdfxml(RDFXML_CORNERS)
    xml = next(r for r in rows if r[2] == "http://ex.org/xml")
    assert xml[3] == "<b>bold</b>" and xml[6] == RDF_NS + "XMLLiteral"
    # multiple nested node elements → one triple per child (none dropped)
    kids = sorted(r[3] for r in rows if r[2] == "http://ex.org/kids")
    assert kids == ["http://base.org/dir/k1", "http://base.org/dir/k2"]


def test_parse_rdfxml_base_and_lang_scoping():
    rows = parse_rdfxml(RDFXML_CORNERS)
    # xml:lang inherits from the node element; local override wins
    label = next(r for r in rows if r[2] == "http://ex.org/label")
    assert (label[4], label[5]) == ("lang_literal", "en")
    tagged = next(r for r in rows if r[2] == "http://ex.org/tagged")
    assert (tagged[4], tagged[5]) == ("lang_literal", "fr")
    # rdf:ID resolves as a fragment against xml:base
    assert any(r[0] == "http://base.org/dir/doc#frag" for r in rows)


def test_ntriples_unicode_escapes():
    line = '<http://a> <http://p> "uni\\u0041 \\U0001F600 \\\\u0042" .'
    assert parse_ntriples_line(line)[3] == "uniA \U0001F600 \\u0042"


def test_ntriples_parsing():
    assert parse_ntriples_line("<http://a> <http://p> <http://b> .") == (
        "http://a", "named", "http://p", "http://b", "named", None, None
    )
    assert parse_ntriples_line('<http://a> <http://p> "lit" .') == (
        "http://a", "named", "http://p", "lit", "literal", None, None
    )
    assert parse_ntriples_line('<http://a> <http://p> "hi"@en .') == (
        "http://a", "named", "http://p", "hi", "lang_literal", "en", None
    )
    assert parse_ntriples_line(
        '<http://a> <http://p> "5"^^<http://www.w3.org/2001/XMLSchema#int> .'
    ) == ("http://a", "named", "http://p", "5", "typed_literal", None, "http://www.w3.org/2001/XMLSchema#int")
    assert parse_ntriples_line("_:b1 <http://p> _:b2 .") == (
        "_:b1", "blank", "http://p", "_:b2", "blank", None, None
    )
    assert parse_ntriples_line('<http://a> <http://p> "esc\\"aped\\n" .')[3] == 'esc"aped\n'
    assert parse_ntriples_line("# comment") is None
    assert parse_ntriples_line("") is None


def test_ntriples_spark_roundtrip(spark, tmp_path):
    nt = "\n".join(
        [
            "<http://ex/a> <http://ex/p> <http://ex/b> .",
            '<http://ex/a> <http://ex/q> "v" .',
            "# a comment line",
            "_:x <http://ex/p> <http://ex/a> .",
        ]
    )
    f = tmp_path / "data.nt"
    f.write_text(nt)
    st = TripleStore.from_ntriples(spark, str(f))
    assert st.count() == 3


def test_write_ntriples_roundtrip(spark, tmp_path):
    """Distributed sink → reader round-trip preserves every triple,
    including literals needing escapes and all five term kinds."""
    rows = [
        ("http://ex/a", "named", "http://ex/p", "http://ex/b", "named", None, None),
        ("_:x", "blank", "http://ex/p", "_:y", "blank", None, None),
        ("http://ex/a", "named", "http://ex/q", 'quote " back \\ nl \n tab \t', "literal", None, None),
        ("http://ex/a", "named", "http://ex/q", "salut", "lang_literal", "fr", None),
        ("http://ex/a", "named", "http://ex/q", "7", "typed_literal", None,
         "http://www.w3.org/2001/XMLSchema#int"),
    ]
    st = TripleStore.from_rows(spark, rows)
    out = str(tmp_path / "export_nt")
    st.to_ntriples(out)
    back = TripleStore.from_ntriples(spark, out)
    assert sorted(map(tuple, back.df.collect())) == sorted(rows)


def test_rdfxml_spark_roundtrip(spark, store_rows=None):
    rows = [
        ("http://ex/a", "named", "http://ex/p#knows", "http://ex/b", "named", None, None),
        ("http://ex/a", "named", "http://ex/p#label", "hello & <world>", "literal", None, None),
        ("_:blank1", "blank", "http://ex/p#knows", "http://ex/a", "named", None, None),
    ]
    st = TripleStore.from_rows(spark, rows)
    xml = to_rdfxml(st.df)
    back = sorted(parse_rdfxml(xml))
    assert back == sorted(rows)


def test_export_drops_non_qname_predicate(spark):
    # predicate with no extractable local name is dropped silently
    # (builder.rs:15-31 semantics)
    rows = [
        ("http://ex/a", "named", "http://ex/p#ok", "x", "literal", None, None),
        ("http://ex/a", "named", "http://bad.example/", "y", "literal", None, None),
    ]
    st = TripleStore.from_rows(spark, rows)
    back = parse_rdfxml(to_rdfxml(st.df))
    assert len(back) == 1
    assert back[0][2] == "http://ex/p#ok"


RDFXML_REIFIED = b"""<?xml version="1.0"?>
<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
         xmlns:ex="http://ex.org/" xml:base="http://base.org/doc">
  <rdf:Description rdf:about="http://ex.org/alice">
    <ex:age rdf:ID="st1" rdf:datatype="http://www.w3.org/2001/XMLSchema#int">30</ex:age>
    <ex:knows rdf:ID="st2" rdf:resource="http://ex.org/bob"/>
    <ex:nick rdf:ID="st3" xml:lang="en">ali</ex:nick>
  </rdf:Description>
</rdf:RDF>
"""


def test_parse_rdfxml_property_id_reification():
    """rdf:ID on a property element emits the asserted triple PLUS the four
    reification triples (rdf:type Statement, subject, predicate, object),
    with the statement IRI resolved against xml:base and the object quad
    carrying the statement object's exact kind/lang/datatype."""
    rows = parse_rdfxml(RDFXML_REIFIED)
    a = "http://ex.org/alice"
    xsd_int = "http://www.w3.org/2001/XMLSchema#int"
    # asserted triples still present
    assert (a, "named", "http://ex.org/age", "30", "typed_literal", None, xsd_int) in rows
    assert (a, "named", "http://ex.org/knows", "http://ex.org/bob", "named", None, None) in rows
    assert (a, "named", "http://ex.org/nick", "ali", "lang_literal", "en", None) in rows
    for frag, pred, obj in [
        ("st1", "http://ex.org/age", ("30", "typed_literal", None, xsd_int)),
        ("st2", "http://ex.org/knows", ("http://ex.org/bob", "named", None, None)),
        ("st3", "http://ex.org/nick", ("ali", "lang_literal", "en", None)),
    ]:
        w = f"http://base.org/doc#{frag}"  # xml:base-resolved statement IRI
        quads = {(r[2], r[3], r[4], r[5], r[6]) for r in rows if r[0] == w}
        assert (RDF_NS + "type", RDF_NS + "Statement", "named", None, None) in quads
        assert (RDF_NS + "subject", a, "named", None, None) in quads
        assert (RDF_NS + "predicate", pred, "named", None, None) in quads
        o, o_kind, lang, dt = obj
        assert (RDF_NS + "object", o, o_kind, lang, dt) in quads
        assert len(quads) == 4


def test_parse_rdfxml_rejects_obsolete_attributes():
    """rdf:aboutEach / rdf:aboutEachPrefix / rdf:bagID were withdrawn in
    the 2004 REC; distributive semantics can't be approximated, so the
    parser raises a typed error instead of silently emitting them as
    literal-property triples."""
    import pytest

    from rippledb_spark.errors import RdfParseError

    for attr in ('rdf:aboutEach="#b"', 'rdf:aboutEachPrefix="http://e/"', 'rdf:bagID="b"'):
        doc = f"""<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:ex="http://e/">
          <rdf:Description {attr}><ex:p>v</ex:p></rdf:Description>
        </rdf:RDF>"""
        with pytest.raises(RdfParseError, match="obsolete"):
            parse_rdfxml(doc)
    # on property elements too
    doc = f"""<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:ex="http://e/">
      <rdf:Description rdf:about="http://e/s">
        <ex:p rdf:bagID="b2" rdf:resource="http://e/o"/>
      </rdf:Description>
    </rdf:RDF>"""
    with pytest.raises(RdfParseError, match="obsolete"):
        parse_rdfxml(doc)


def test_collection_reification_self_referential_child():
    """rdf:ID on parseType=Collection must reify the LIST-HEAD triple even
    when a nested collection item re-asserts the same (subject,
    predicate) pair — the row-scan approach picked the child's triple."""
    doc = f"""<rdf:RDF xmlns:rdf="{RDF_NS}" xmlns:ex="http://e/"
                   xml:base="http://base.org/doc">
      <rdf:Description rdf:about="http://e/s">
        <ex:p rdf:ID="st" rdf:parseType="Collection">
          <rdf:Description rdf:about="http://e/s">
            <ex:p rdf:resource="http://e/x"/>
          </rdf:Description>
        </ex:p>
      </rdf:Description>
    </rdf:RDF>"""
    rows = parse_rdfxml(doc, blank_prefix="z")
    w = "http://base.org/doc#st"
    obj_quads = [r for r in rows if r[0] == w and r[2] == RDF_NS + "object"]
    assert len(obj_quads) == 1
    # the reified object is the blank cons-cell head, not http://e/x
    assert obj_quads[0][4] == "blank"
    assert obj_quads[0][3].startswith("_:z")
    # and that head really is the asserted list head for subject s
    heads = [
        r for r in rows
        if r[0] == "http://e/s" and r[2] == "http://e/p" and r[4] == "blank"
    ]
    assert obj_quads[0][3] in {h[3] for h in heads}


def test_distributed_parse_errors_name_the_file(spark, tmp_path):
    """A malformed file in a multi-file load must fail with the file path
    in the message (bare offsets are undebuggable at 10k files)."""
    import pytest

    from rippledb_spark.errors import RdfParseError
    from rippledb_spark.sources.rdfio import read_rdfxml
    from rippledb_spark.sources.turtle import read_turtle

    bad_xml = tmp_path / "bad.rdf"
    bad_xml.write_text("<rdf:RDF xmlns:rdf='x'><unclosed></rdf:RDF")
    with pytest.raises(Exception, match="bad.rdf"):
        read_rdfxml(spark, str(bad_xml)).count()

    bad_ttl = tmp_path / "bad.ttl"
    bad_ttl.write_text("@prefix ex: <http://e/> . ex:s ex:p %%% .")
    with pytest.raises(Exception, match="bad.ttl"):
        read_turtle(spark, str(bad_ttl)).count()


def test_write_rdfxml_distributed_roundtrip(spark, tmp_path):
    """Distributed RDF/XML sink → binaryFile scan round-trip: every part
    file is a self-contained document; namespaced predicates come back
    identical via the per-element default xmlns; all literal kinds and
    XML-special characters survive; non-QName predicates are dropped
    (builder.rs:15-31 semantics)."""
    rows = [
        ("http://ex/a", "named", "http://ex/p#knows", "http://ex/b", "named", None, None),
        ("http://ex/a", "named", "http://ex/p#label", 'he & <said> "hi"', "literal", None, None),
        ("http://ex/a", "named", "http://ex/p#nick", "ali", "lang_literal", "en", None),
        ("http://ex/a", "named", "http://ex/p#age", "30", "typed_literal", None,
         "http://www.w3.org/2001/XMLSchema#int"),
        ("http://ex/b", "named", "bare_pred", "v", "literal", None, None),
        ("http://ex/b", "named", "urn:x:local", "http://ex/a", "named", None, None),
        ("http://ex/b", "named", "http://bad.example/", "dropped", "literal", None, None),
    ]
    st = TripleStore.from_rows(spark, rows)
    out = str(tmp_path / "export_xml")
    st.to_rdfxml_dir(out)
    back = TripleStore.from_rdf(spark, out + "/part-*")
    got = sorted(map(tuple, back.df.collect()))
    want = sorted(r for r in rows if r[2] != "http://bad.example/")
    assert got == want


def test_write_rdfxml_blank_nodes_survive(spark, tmp_path):
    rows = [
        ("_:x", "blank", "http://ex/p#knows", "_:y", "blank", None, None),
        ("_:y", "blank", "http://ex/p#label", "inner", "literal", None, None),
    ]
    st = TripleStore.from_rows(spark, rows)
    out = str(tmp_path / "export_xml_blank")
    st.to_rdfxml_dir(out)
    back = TripleStore.from_rdf(spark, out + "/part-*").df.collect()
    # labels are re-prefixed per file on read (merge-safety), but kinds,
    # predicates, and the blank-to-blank link structure survive
    assert sorted((r["s_kind"], r["p"], r["o_kind"]) for r in back) == [
        ("blank", "http://ex/p#knows", "blank"),
        ("blank", "http://ex/p#label", "literal"),
    ]
    link = {r["o_value"]: r["s"] for r in back if r["p"].endswith("#knows")}
    inner = [r["s"] for r in back if r["p"].endswith("#label")]
    assert inner == list(link.keys())


def test_write_rdfxml_driver_and_distributed_agree(spark, tmp_path):
    """Same store → the driver-side serializer and the distributed sink
    parse back to the same triple set."""
    rows = [
        ("http://ex/s%d" % i, "named", "http://ex/p#v", "val%d & x" % i, "literal", None, None)
        for i in range(20)
    ]
    st = TripleStore.from_rows(spark, rows)
    via_driver = sorted(parse_rdfxml(to_rdfxml(st.df)))
    out = str(tmp_path / "xml_agree")
    st.to_rdfxml_dir(out)
    via_dist = sorted(map(tuple, TripleStore.from_rdf(spark, out + "/part-*").df.collect()))
    assert via_driver == via_dist


# -- RDF/JSON (sources/rdfjson.py) ------------------------------------------


def test_rdfjson_roundtrip_all_kinds(spark, tmp_path):
    from rippledb_spark.sources.rdfjson import parse_rdfjson, serialize_rdfjson_rows

    rows = [
        ("http://ex/a", "named", "http://ex/p", "http://ex/b", "named", None, None),
        ("_:x", "blank", "http://ex/p", "_:y", "blank", None, None),
        ("http://ex/a", "named", "http://ex/q", 'uni © "quoted"', "literal", None, None),
        ("http://ex/a", "named", "http://ex/q", "salut", "lang_literal", "fr", None),
        ("http://ex/a", "named", "http://ex/q", "7", "typed_literal", None,
         "http://www.w3.org/2001/XMLSchema#int"),
    ]
    st = TripleStore.from_rows(spark, rows)
    out = str(tmp_path / "export_json")
    st.to_rdfjson(out)
    back = TripleStore.from_rdfjson(spark, out + "/part-*")
    assert sorted(map(tuple, back.df.collect())) == sorted(rows)
    # driver-side serializer agrees with the distributed one
    line = serialize_rdfjson_rows(st.df.collect())
    assert sorted(parse_rdfjson(line)) == sorted(rows)


def test_rdfjson_reads_pretty_single_document(spark, tmp_path):
    doc = """{
      "http://ex/a": {
        "http://ex/knows": [
          {"value": "http://ex/b", "type": "uri"},
          {"value": "bob", "type": "literal", "lang": "en"}
        ]
      },
      "_:blank": {"http://ex/knows": [{"value": "node1", "type": "bnode"}]}
    }"""
    f = tmp_path / "g.json"
    f.write_text(doc)
    st = TripleStore.from_rdfjson(spark, str(f))
    got = sorted(map(tuple, st.df.collect()))
    assert got == [
        ("_:blank", "blank", "http://ex/knows", "_:node1", "blank", None, None),
        ("http://ex/a", "named", "http://ex/knows", "bob", "lang_literal", "en", None),
        ("http://ex/a", "named", "http://ex/knows", "http://ex/b", "named", None, None),
    ]


def test_rdfjson_parse_errors_are_loud(spark):
    from rippledb_spark.errors import RdfParseError
    from rippledb_spark.sources.rdfjson import parse_rdfjson

    with pytest.raises(RdfParseError, match="not RDF/JSON"):
        parse_rdfjson(b"[not json")
    with pytest.raises(RdfParseError, match="array"):
        parse_rdfjson('{"s": {"p": {"value": "x"}}}')
    with pytest.raises(RdfParseError, match="unknown RDF/JSON object type"):
        parse_rdfjson('{"s": {"p": [{"value": "x", "type": "zzz"}]}}')


@pytest.mark.parametrize("fmt", ["ntriples", "turtle"])
def test_iris_outside_iriref_round_trip(spark, tmp_path, fmt):
    """The writers escape the characters IRIREF excludes as \\uXXXX and
    the readers decode them, so an IRI with a space (rdfbench's
    ``priority:4-NOT SPECIFIED``) or a backslash reads back as itself."""
    rows = [
        ("order:1", "named", "has_priority", "priority:4-NOT SPECIFIED", "named", None, None),
        ("a b", "named", "p\\q", 'x<y>{z}|^`"\t', "named", None, None),
        ("a", "named", "n", "7", "typed_literal", None, "dt with space"),
    ]
    st = TripleStore.from_rows(spark, rows)
    out = str(tmp_path / fmt)
    getattr(st, f"to_{fmt}")(out)
    back = getattr(TripleStore, f"from_{fmt}")(spark, out)
    assert sorted(map(tuple, back.df.collect())) == sorted(rows)


def test_ntriples_reader_decodes_uchar_and_keeps_raw_spaces():
    assert parse_ntriples_line("<a\\u0020b> <p> <c d> .") == (
        "a b", "named", "p", "c d", "named", None, None
    )
