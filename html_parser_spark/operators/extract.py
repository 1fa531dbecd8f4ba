"""Spark operators: fused tokenize+extract over the transcripts table.

The flagship pipeline (SURVEY.md §7 Phase 1): one Arrow map stage
(`mapInArrow`) fuses tokenize -> filter -> assemble per turn, so
extraction is embarrassingly parallel and **shuffle-free** -- each
turn is one complete document, no cross-row state.  Catalyst prunes
the scan to the key + text columns (we pre-select them so the
parquet/Iceberg reader never materializes the rest).

At 100 TB the cost model is: scan (columnar, pruned) -> Arrow batches
to the Python worker -> per-document FSM -> Arrow back.  That
boundary is one helper, :func:`_arrow_map`, shared by every per-turn
operator here and in ``operators.content``: it prunes and casts the
keys, hands the operator the batch's text with NULL as ``""``, and
builds the output RecordBatch directly — no pandas detour (5x cheaper
for map/list columns, measured). An operator with one row per turn
passes the key columns through by reference; a fan-out operator
records the input row of each output row and the keys are gathered
with one Arrow ``take``.  No shuffle, no skew sensitivity (a hot
conv_id just means more rows, all independent); ``plans.pipeline``
adds salted repartitioning only when a downstream stage needs
conv-level grouping or balanced output files.
"""

from __future__ import annotations

import itertools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from html_parser_spark.config import EXTRACT_CONFIG, ParserConfig
from html_parser_spark.functions import assemble
from html_parser_spark.functions.tagset import DEFAULT_TEXTIFY
from html_parser_spark.functions.tokenizer import tokenize


def _pa_arr(vals, typ):
    """pa.array with a lone-surrogate fallback: the reference's
    byte-granular entity decoder can emit strings that are not valid
    Unicode (bug-for-bug surrogate chop, entities.py); Arrow rejects
    them with UnicodeEncodeError, which would kill the whole task for
    one pathological document. The happy path pays nothing; on
    failure each offending string degrades to U+FFFD replacement
    (the only representable form in parquet/Arrow anyway).
    """
    import pyarrow as pa

    def fix(v):
        if isinstance(v, str):
            try:
                v.encode("utf-8")
                return v
            except UnicodeEncodeError:
                return (v.encode("utf-16", "surrogatepass")
                        .decode("utf-16", "replace"))
        if isinstance(v, list):
            return [fix(x) for x in v]
        if isinstance(v, dict):
            return {fix(k): fix(x) for k, x in v.items()}
        return v

    try:
        return pa.array(vals, typ)
    except UnicodeEncodeError:
        return pa.array([fix(v) for v in vals], typ)


def _arrow_map(df: DataFrame, text_col: str, schema: T.StructType,
               per_batch) -> DataFrame:
    """The per-turn Arrow boundary: every operator that maps turns to
    rows crosses between Spark and Python here, in one
    ``mapInArrow`` stage (shuffle-free, RecordBatches in and out).

    The input is pruned to ``conv_id`` (as string), ``turn_idx`` (as
    int) and ``text_col``. ``per_batch`` is a generator function: it
    gets an iterator of text lists, one per non-empty Arrow batch with
    NULL / non-str text as ``""``, and yields one ``(idx, cols)`` per
    list. ``cols`` holds the value columns in ``schema`` order after
    the two keys, as lists or ready ``pa.Array``s. ``idx`` is None
    when there is exactly one output row per turn, so the key columns
    pass through by reference; otherwise it holds the input-row index
    of every output row, and the keys are built with one Arrow
    ``take``."""
    names = schema.fieldNames()
    types = [to_arrow_type(f.dataType) for f in schema.fields[2:]]

    def run(batches):
        import pyarrow as pa

        # per_batch pulls one text list per result it yields, so the
        # tee holds at most one batch for the key side
        keyed, texts = itertools.tee(rb for rb in batches if rb.num_rows)
        docs = ([d if isinstance(d, str) else ""
                 for d in rb.column(2).to_pylist()] for rb in texts)
        for rb, (idx, cols) in zip(keyed, per_batch(docs)):
            keys = [rb.column(0), rb.column(1)]
            if idx is not None:
                if not idx:
                    continue
                take = pa.array(idx, pa.int32())
                keys = [k.take(take) for k in keys]
            yield pa.RecordBatch.from_arrays(
                keys + [c if isinstance(c, pa.Array) else _pa_arr(c, typ)
                        for c, typ in zip(cols, types)],
                names=names)

    return df.select(F.col("conv_id").cast("string"),
                     F.col("turn_idx").cast("int"),
                     text_col).mapInArrow(run, schema)


def _each_turn(one_row):
    """``per_batch`` for an operator with one output row per turn:
    ``one_row(doc)`` returns that row's value tuple."""

    def per_batch(doc_batches):
        for docs in doc_batches:
            yield None, list(zip(*map(one_row, docs)))

    return per_batch


def _fan_out(rows):
    """``per_batch`` for a fan-out operator: ``rows(doc)`` yields one
    value tuple per output row of that turn."""

    def per_batch(doc_batches):
        for docs in doc_batches:
            idx = []
            out = []
            for i, doc in enumerate(docs):
                for row in rows(doc):
                    idx.append(i)
                    out.append(row)
            yield idx, list(zip(*out))

    return per_batch


EXTRACT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("extracted_text", T.StringType()),
    T.StructField("trimmed_text", T.StringType()),
    T.StructField("n_events", T.IntegerType()),
    T.StructField("n_chars_in", T.IntegerType()),
])


def extract_text(df: DataFrame, cfg: ParserConfig = EXTRACT_CONFIG,
                 textify: dict[str, str] = DEFAULT_TEXTIFY,
                 text_col: str = "text") -> DataFrame:
    """transcripts -> (conv_id, turn_idx, extracted_text, trimmed_text,
    n_events, n_chars_in): TokeParser-style main-content assembly
    (SURVEY.md Q6/Q7) fused with the tokenizer in one Arrow stage.

    Arrow-native in and out (mapInArrow) — the flagship stage skips
    the pandas detour entirely.
    """

    def per_batch(doc_batches):
        for docs in doc_batches:
            ex = []
            tr = []
            nev = []
            nch = []
            for doc in docs:
                rows = tokenize(doc, cfg)
                txt = assemble.document_text(doc, rows, cfg, textify)
                ex.append(txt)
                tr.append(assemble.collapse_ws(txt))
                nev.append(len(rows))
                nch.append(len(doc))
            yield None, [ex, tr, nev, nch]

    return _arrow_map(df, text_col, EXTRACT_SCHEMA, per_batch)


EVENTS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("event", T.StringType()),
    T.StructField("text", T.StringType()),
    T.StructField("dtext", T.StringType()),
    T.StructField("tagname", T.StringType()),
    T.StructField("tag", T.StringType()),
    T.StructField("token0", T.StringType()),
    T.StructField("attrs", T.MapType(T.StringType(), T.StringType())),
    T.StructField("attrseq", T.ArrayType(T.StringType())),
    T.StructField("tokens", T.ArrayType(T.StringType())),
    T.StructField("tokenpos", T.ArrayType(T.IntegerType())),
    T.StructField("is_cdata", T.BooleanType()),
    T.StructField("offset", T.IntegerType()),
    T.StructField("offset_end", T.IntegerType()),
    T.StructField("length", T.IntegerType()),
    T.StructField("line", T.IntegerType()),
    T.StructField("column", T.IntegerType()),
    T.StructField("skipped_text", T.StringType()),
])


#: the projectable event fields — the engine's analogue of the
#: reference's compiled argspec names (`hparser.c:62-86`); the
#: materialization itself is the fused loop in events() below.
EVENT_FIELDS = tuple(
    f for f in EVENTS_SCHEMA.fieldNames()
    if f not in ("conv_id", "turn_idx", "seq"))


def events(df: DataFrame, cfg: ParserConfig = ParserConfig(),
           text_col: str = "text",
           fields: tuple[str, ...] | None = None) -> DataFrame:
    """transcripts -> one row per tokenizer event (SURVEY.md §1.3).

    The per-turn event fan-out happens inside the Arrow batch (the UDF
    yields the exploded frame directly), so there is no separate
    explode/shuffle stage; ``seq`` is the in-turn ordinal, making
    ``(conv_id, turn_idx, seq)`` a stable total order.

    ``fields`` is the argspec (SURVEY.md P1): name only the event
    fields you need — unreferenced projections (attr maps, tokenpos
    arrays...) are never computed, mirroring the reference's compiled
    argspec and keeping the Arrow payload minimal. None = all fields.
    """
    key_fields = ["conv_id", "turn_idx", "seq"]
    sel = list(fields) if fields is not None else list(EVENT_FIELDS)
    for f in sel:
        if f not in EVENT_FIELDS:
            raise KeyError(f"unknown event field: {f!r}")
    schema = T.StructType(
        [EVENTS_SCHEMA[k] for k in key_fields]
        + [EVENTS_SCHEMA[f] for f in sel])
    pos_fields = {"offset", "offset_end", "line", "column"} & set(sel)
    if cfg.track_positions and not pos_fields:
        # lazy position tracking (SURVEY.md O5): nothing selected
        # reads positions, so skip the per-event line/column upkeep
        cfg = cfg.with_(track_positions=False)
    elif not cfg.track_positions and pos_fields:
        # mirror the reference's lazy ENABLE (hparser.c:724-727): an
        # argspec asking for positions turns tracking on even if the
        # preset (e.g. EXTRACT_CONFIG) switched it off
        cfg = cfg.with_(track_positions=True)
    if "skipped_text" in sel and not cfg.track_skipped_text:
        # same lazy-enable mirror for the skipped-text accumulator —
        # without it the selected column would be silently all-null
        cfg = cfg.with_(track_skipped_text=True)

    val_names = schema.fieldNames()[2:]

    def per_batch(doc_batches):
        # One fused loop materializes all selected fields per event:
        # raw text / token0 / attrs are computed at most once each and
        # shared between the fields that need them — no per-field
        # dispatch in the hot path (this loop runs once per event of
        # every document in the corpus). Arrow-native in AND out
        # (mapInArrow): building pa.Arrays from the lists directly is
        # ~5x cheaper than routing the map/list columns through a
        # pandas DataFrame (measured 0.8 vs 4.3 us/event).
        import pyarrow as pa

        from html_parser_spark.functions import project as prj
        from html_parser_spark.functions.entities import decode_entities
        from html_parser_spark.functions.project import _TAG_PREFIX
        from html_parser_spark.functions.tokenizer import ascii_lower

        need = set(sel)
        w_event = "event" in need
        w_text = "text" in need
        w_dtext = "dtext" in need
        w_tagname = "tagname" in need
        w_tag = "tag" in need
        w_token0 = "token0" in need
        w_name = w_tagname or w_tag or w_token0
        w_attrs = "attrs" in need
        w_attrseq = "attrseq" in need
        w_tokens = "tokens" in need
        w_tokenpos = "tokenpos" in need
        w_cdata = "is_cdata" in need
        w_off = "offset" in need
        w_offend = "offset_end" in need
        w_len = "length" in need
        w_line = "line" in need
        w_col = "column" in need
        w_skip = "skipped_text" in need
        need_txt = w_text or w_dtext or w_len or w_offend
        lower = not cfg.is_case_sensitive

        for docs in doc_batches:
            idx: list[int] = []
            a_idx = idx.append
            cols: dict[str, list] = {k: [] for k in val_names}
            a_seq = cols["seq"].append
            # the attrs map column is built flat (offsets + key/value
            # runs -> MapArray.from_arrays): ~13x cheaper than
            # converting per-event dicts, and attrs is the costliest
            # column of the full projection (measured)
            attr_offs: list[int | None] = []
            attr_keys: list[str] = []
            attr_vals: list[str] = []
            ap = {k: cols[k].append for k in sel}
            a_event = ap.get("event")
            a_text = ap.get("text")
            a_dtext = ap.get("dtext")
            a_tagname = ap.get("tagname")
            a_tag = ap.get("tag")
            a_token0 = ap.get("token0")
            a_attrseq = ap.get("attrseq")
            a_tokens = ap.get("tokens")
            a_tokenpos = ap.get("tokenpos")
            a_cdata = ap.get("is_cdata")
            a_off = ap.get("offset")
            a_offend = ap.get("offset_end")
            a_len = ap.get("length")
            a_line = ap.get("line")
            a_col = ap.get("column")
            a_skip = ap.get("skipped_text")
            for i, doc in enumerate(docs):
                for seq, row in enumerate(tokenize(doc, cfg)):
                    ev = row[0]
                    toks = row[3]
                    a_idx(i)
                    a_seq(seq)
                    if need_txt:
                        txt = (row[9] if row[9] is not None
                               else doc[row[1]:row[2]])
                    if w_event:
                        a_event(ev)
                    if w_text:
                        a_text(txt)
                    if w_dtext:
                        if ev != "text":
                            a_dtext(None)
                        elif row[4]:  # is_cdata: no decode
                            a_dtext(txt)
                        else:
                            a_dtext(decode_entities(txt, True))
                    if w_name:
                        if toks:
                            t0 = toks[0]
                            t0s = (t0 if isinstance(t0, str)
                                   else doc[t0[0]:t0[1]])
                        else:
                            t0s = None
                        if w_token0:
                            a_token0(t0s)
                        if w_tagname or w_tag:
                            tn = (ascii_lower(t0s)
                                  if t0s is not None and lower else t0s)
                            if w_tagname:
                                a_tagname(tn)
                            if w_tag:
                                a_tag(None if tn is None
                                      else _TAG_PREFIX.get(ev, "") + tn)
                    if w_attrs or w_attrseq:
                        a = (prj.attrs(doc, row, cfg)
                             if toks and ev == "start" else None)
                        if w_attrs:
                            if a is None:
                                attr_offs.append(None)
                            else:
                                attr_offs.append(len(attr_keys))
                                for _k, _v in a[0].items():
                                    attr_keys.append(_k)
                                    attr_vals.append(_v)
                        if w_attrseq:
                            a_attrseq(a[1] if a else None)
                    if w_tokens:
                        a_tokens(prj.token_strings(doc, row, cfg)
                                 if toks else None)
                    if w_tokenpos:
                        a_tokenpos(prj.tokenpos(doc, row)
                                   if toks else None)
                    if w_cdata:
                        a_cdata(row[4] if ev == "text" else None)
                    if w_off:
                        a_off(row[5])
                    if w_offend:
                        a_offend(row[5] + len(txt))
                    if w_len:
                        a_len(len(txt))
                    if w_line:
                        a_line(row[6])
                    if w_col:
                        a_col(row[7])
                    if w_skip:
                        a_skip(row[8])
            if w_attrs:
                attr_offs.append(len(attr_keys))
                cols["attrs"] = pa.MapArray.from_arrays(
                    pa.array(attr_offs, pa.int32()),
                    _pa_arr(attr_keys, pa.string()),
                    _pa_arr(attr_vals, pa.string()))
            yield idx, [cols[n] for n in val_names]

    return _arrow_map(df, text_col, schema, per_batch)


HEADERS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("header_seq", T.IntegerType()),
    T.StructField("header_name", T.StringType()),
    T.StructField("header_value", T.StringType()),
])

_HEAD_CFG = ParserConfig(ignore_elements=("script", "style"))


def head_headers(df: DataFrame, cfg: ParserConfig = _HEAD_CFG,
                 text_col: str = "text") -> DataFrame:
    """HeadParser-equivalent metadata capture (SURVEY.md Q1)."""

    def rows(doc):
        for i, (name, value) in enumerate(
                assemble.head_headers(doc, tokenize(doc, cfg), cfg)):
            yield i, name, value

    return _arrow_map(df, text_col, HEADERS_SCHEMA, _fan_out(rows))


LINKS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("link_seq", T.IntegerType()),
    T.StructField("tagname", T.StringType()),
    T.StructField("attr_name", T.StringType()),
    T.StructField("url", T.StringType()),
])


def links(df: DataFrame, cfg: ParserConfig = ParserConfig(),
          base: str | None = None, text_col: str = "text") -> DataFrame:
    """LinkExtor-equivalent link extraction (SURVEY.md Q2)."""

    def rows(doc):
        return assemble.extract_links(doc, tokenize(doc, cfg), cfg,
                                      base)

    return _arrow_map(df, text_col, LINKS_SCHEMA, _fan_out(rows))


ANCHORS_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("anchor_seq", T.IntegerType()),
    T.StructField("href", T.StringType()),
    T.StructField("anchor_text", T.StringType()),
])


def anchors(df: DataFrame, cfg: ParserConfig = ParserConfig(),
            text_col: str = "text") -> DataFrame:
    """eg/hanchors: (anchor_seq, href, trimmed anchor text) per <a>."""

    def rows(doc):
        return assemble.anchors(doc, tokenize(doc, cfg), cfg)

    return _arrow_map(df, text_col, ANCHORS_SCHEMA, _fan_out(rows))


PHRASE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("phrase", T.StringType()),
])


def phrase_text(df: DataFrame, cfg: ParserConfig = ParserConfig(),
                textify: dict[str, str] = DEFAULT_TEXTIFY,
                text_col: str = "text") -> DataFrame:
    """TokeParser::get_phrase per turn (SURVEY.md Q8;
    `/root/reference/lib/HTML/TokeParser.pm:123-150`): whitespace-
    collapsed text up to the first non-phrase-markup tag."""
    if cfg.track_positions:
        # get_phrase never reads positions — lazy disable (O5)
        cfg = cfg.with_(track_positions=False)

    def row(doc):
        return (assemble.get_phrase(doc, tokenize(doc, cfg), cfg,
                                    textify)[0],)

    return _arrow_map(df, text_col, PHRASE_SCHEMA, _each_turn(row))


REWRITE_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType()),
    T.StructField("turn_idx", T.IntegerType()),
    T.StructField("doc", T.StringType()),
])


def rewrite_links(df: DataFrame, rewrite,
                  cfg: ParserConfig = ParserConfig(),
                  text_col: str = "text") -> DataFrame:
    """eg/hrefsub: tokenpos-surgery URL rewriting; bytes outside the
    rewritten attr values are untouched."""
    def row(doc):
        return (assemble.rewrite_links(doc, tokenize(doc, cfg), cfg,
                                       rewrite),)

    return _arrow_map(df, text_col, REWRITE_SCHEMA, _each_turn(row))


def strip_markup(df: DataFrame, cfg: ParserConfig = ParserConfig(),
                 strip_tags=assemble.STRIP_TAGS,
                 strip_elements=("style", "script"),
                 text_col: str = "text") -> DataFrame:
    """eg/hstrip: drop styling tags + style/script subtrees, keep the
    rest byte-identical (Filter.pm identity over filtered events)."""
    def row(doc):
        return (assemble.strip_markup(doc, None, cfg, strip_tags,
                                      strip_elements),)

    return _arrow_map(df, text_col, REWRITE_SCHEMA, _each_turn(row))


def bom_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Encoding-sniff warnings (SURVEY.md P12; `hparser.c:1839-1870`,
    `util.c:276-310`): per-turn flags for BOMs and
    probably-undecoded-UTF-8, as pure JVM expressions — at corpus
    scale these feed the metrics table, not per-row warnings."""
    t = F.col(text_col)
    # probable undecoded UTF-8: a Latin-1-decoded lead byte C2-F4
    # followed by a continuation byte 80-BF (util.c:289-302 heuristic)
    utf8ish = t.rlike("[\u00C2-\u00F4][\u0080-\u00BF]")
    bom_utf8 = t.startswith("\ufeff") | t.startswith("\u00ef\u00bb\u00bf")
    return df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        bom_utf8.alias("utf8_bom"),
        (t.startswith("\u00ff\u00fe") | t.startswith("\u00fe\u00ff"))
        .alias("utf16_bom"),
        (utf8ish & ~bom_utf8).alias("maybe_undecoded_utf8"),
    )


#: entities whose decode is a plain substring swap when they appear
#: in strict '&name;' form — the overwhelmingly common web cases;
#: amp is swapped LAST so '&amp;lt;' -> '&lt;' (one decode pass, the
#: reference's semantics). Case-sensitive on purpose: '&AMP;' etc.
#: fall through to the full scanner.
_FAST_ENTS = (("lt", "<"), ("gt", ">"), ("quot", '"'),
              ("apos", "'"), ("nbsp", " "))
#: a row is fast-decodable iff every '&' starts one of those strict
#: forms — anything else (no ';', numeric, exotic names, prefix
#: forms) routes to the full scanner, so the tier is conservative
_FAST_GATE = r"&(?!(?:amp|lt|gt|quot|apos|nbsp);)"


def decode_entities_col(col, expand_prefix: bool = False):
    """Vectorized entity decode as a scalar pandas UDF (SURVEY.md P5).

    Three tiers inside one Arrow batch, cheapest first: rows without
    '&' pass through untouched (the SURVEY.md O10 pre-mask); rows
    whose every '&' is a strict common entity (`_FAST_GATE`) decode
    via C-speed vectorized substring swaps; only the remainder runs
    the per-row reference-exact scanner. The gate is exact, not
    heuristic — on gated rows the swap chain and the scanner agree by
    construction (the only '&'s present are the five strict forms
    plus '&amp;', applied last), so tiering never changes a result,
    it only moves rows off the slow path.
    """
    from html_parser_spark.functions.entities import decode_entities

    @F.pandas_udf(T.StringType())
    def _decode(s: pd.Series) -> pd.Series:
        mask = s.str.contains("&", regex=False, na=False)
        if not mask.any():
            return s
        out = s.copy()
        amp = s[mask]
        easy = ~amp.str.contains(_FAST_GATE, regex=True, na=True)
        if easy.any():
            fast = amp[easy]
            for name, ch in _FAST_ENTS:
                fast = fast.str.replace(f"&{name};", ch, regex=False)
            out[fast.index] = fast.str.replace("&amp;", "&",
                                               regex=False)
        hard = amp[~easy]
        if len(hard):
            def dec(x):
                r = decode_entities(x, expand_prefix)
                try:
                    r.encode("utf-8")
                    return r
                except UnicodeEncodeError:  # bug-for-bug surrogate
                    return (r.encode("utf-16", "surrogatepass")
                            .decode("utf-16", "replace"))
            out[hard.index] = hard.map(dec)
        return out

    return _decode(col)


#: a row is fast-ENCODABLE iff it is printable-ASCII + \n\r\t: inside
#: that charset the default unsafe set (Entities.pm:462) collapses to
#: exactly & < > " ' — so a vectorized swap chain (amp FIRST, so the
#: '&'s introduced by the other swaps are never re-encoded) agrees
#: with the reference encoder by construction. Anything with controls
#: or non-ASCII routes to the per-row encoder (named vs numeric
#: lookup per char).
_FAST_ENC_GATE = "[^\\n\\r\\t -~]"


def encode_entities_col(col, unsafe_chars: str | None = None):
    """Vectorized entity encode (SURVEY.md P7).

    Same three-tier shape as :func:`decode_entities_col`, cheapest
    first within one Arrow batch: rows with NO default-unsafe char
    pass through untouched; printable-ASCII rows (`_FAST_ENC_GATE`
    misses) encode via C-speed vectorized swaps of the only five
    unsafe chars that charset admits; the remainder (controls,
    non-ASCII — each needing a named-vs-numeric table lookup) runs
    the per-row reference encoder. The gate is exact, not heuristic,
    so tiering never changes a result. A custom ``unsafe_chars``
    class redefines what "unsafe" means, so it bypasses the tiers
    entirely (that path only serves explicit recipe calls, never the
    hot default).
    """
    from html_parser_spark.functions.entities import (
        _DEFAULT_UNSAFE_RE, _num_entity, CHAR2ENTITY, encode_entities)

    @F.pandas_udf(T.StringType())
    def _encode(s: pd.Series) -> pd.Series:
        if unsafe_chars is not None:
            return s.map(lambda x: encode_entities(x, unsafe_chars)
                         if isinstance(x, str) else x)
        mask = s.str.contains(_DEFAULT_UNSAFE_RE.pattern, regex=True,
                              na=False)
        if not mask.any():
            return s
        out = s.copy()
        uns = s[mask]
        easy = ~uns.str.contains(_FAST_ENC_GATE, regex=True, na=True)
        if easy.any():
            fast = uns[easy]
            for ch in ("&", "<", ">", '"', "'"):
                fast = fast.str.replace(
                    ch, CHAR2ENTITY.get(ch) or _num_entity(ch),
                    regex=False)
            out[fast.index] = fast
        hard = uns[~easy]
        if len(hard):
            out[hard.index] = hard.map(
                lambda x: encode_entities(x, None))
        return out

    return _encode(col)


def encode_entities_numeric_col(col, unsafe_chars: str | None = None):
    """Always-numeric entity encode (SURVEY.md P8;
    `/root/reference/lib/HTML/Entities.pm:467-470`)."""
    from html_parser_spark.functions.entities import (
        encode_entities_numeric)

    @F.pandas_udf(T.StringType())
    def _encode(s: pd.Series) -> pd.Series:
        return s.map(lambda x: encode_entities_numeric(x, unsafe_chars)
                     if isinstance(x, str) else x)

    return _encode(col)
