"""Minimal pure-Python codec for the Jelly RDF binary format (triples).

Closes the one declared format gap (COVERAGE.md §2.1): the reference reads
and writes Jelly via the `pyjelly` library (kgx/parsers/jelly_parser.py:44-49
streams flat triples; kgx/sink/rdf_sink.py:89-108 writes a delimited
PHYSICAL_STREAM_TYPE_TRIPLES / LOGICAL_STREAM_TYPE_FLAT_TRIPLES stream).
That library is absent here, so this module implements the subset of the
published Jelly-RDF 1.0 specification (https://w3id.org/jelly — protobuf
schema `rdf.proto`) that KGX actually exercises: flat triple streams with
name/prefix/datatype lookup tables, IRI/bnode/literal terms, zero-id table
auto-increment, previous-IRI prefix reuse, and repeated-term elision. No
protobuf runtime is used — the wire format (varints + length-delimited
fields) is hand-rolled, which also keeps executors dependency-free.

Out of scope, rejected loudly rather than mis-parsed: quads / graph streams
(KGX is triples-only), RDF-star triple terms, generalized statements.

Term model (plain tuples, picklable for executor-side use):
    ("iri", iri_string)
    ("bnode", label)                      # label WITHOUT the "_:" prefix
    ("literal", lex, langtag_or_None, datatype_iri_or_None)

Wire-format constants below mirror the published rdf.proto field numbers;
comments give the message context for each.
"""

from __future__ import annotations

from typing import Iterable, Iterator

Term = tuple  # ("iri", s) | ("bnode", s) | ("literal", lex, lang, dt)
Triple = tuple  # (Term, Term, Term)

# --- RdfStreamRow oneof field numbers ---
_ROW_OPTIONS = 1
_ROW_TRIPLE = 2
_ROW_QUAD = 3
_ROW_GRAPH_START = 4
_ROW_GRAPH_END = 5
_ROW_NAME = 9
_ROW_PREFIX = 10
_ROW_DATATYPE = 11

# --- RdfTriple oneof field numbers (subject 1-4, predicate 5-8, object 9-12) ---
_T_S_IRI, _T_S_BNODE, _T_S_LITERAL, _T_S_TTERM = 1, 2, 3, 4
_T_P_IRI, _T_P_BNODE, _T_P_LITERAL, _T_P_TTERM = 5, 6, 7, 8
_T_O_IRI, _T_O_BNODE, _T_O_LITERAL, _T_O_TTERM = 9, 10, 11, 12

# --- RdfIri ---
_IRI_PREFIX_ID = 1
_IRI_NAME_ID = 2

# --- RdfLiteral ---
_LIT_LEX = 1
_LIT_LANGTAG = 2
_LIT_DATATYPE = 3

# --- RdfNameEntry / RdfPrefixEntry / RdfDatatypeEntry ---
_ENTRY_ID = 1
_ENTRY_VALUE = 2

# --- RdfStreamOptions ---
_OPT_STREAM_NAME = 1
_OPT_PHYSICAL_TYPE = 2
_OPT_GENERALIZED = 3
_OPT_RDF_STAR = 4
_OPT_MAX_NAME = 9
_OPT_MAX_PREFIX = 10
_OPT_MAX_DATATYPE = 11
_OPT_LOGICAL_TYPE = 14
_OPT_VERSION = 15

_PHYSICAL_TRIPLES = 1
_LOGICAL_FLAT_TRIPLES = 1
_PROTO_VERSION = 1

# --- RdfStreamFrame ---
_FRAME_ROWS = 1


# ---------------------------------------------------------------- wire I/O
def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def _tag(field: int, wire: int) -> bytes:
    return _varint((field << 3) | wire)


def _field_varint(field: int, value: int) -> bytes:
    return _tag(field, 0) + _varint(value)


def _field_bytes(field: int, value: bytes) -> bytes:
    return _tag(field, 2) + _varint(len(value)) + value


def _field_str(field: int, value: str) -> bytes:
    return _field_bytes(field, value.encode("utf-8"))


def _iter_fields(buf: bytes) -> Iterator[tuple[int, int, object]]:
    """Yield (field_number, wire_type, value) over a message's bytes.
    Values: int for wire 0, bytes for wire 2. Wire 1/5 are skipped (no
    fixed-width fields exist in rdf.proto's subset we read)."""
    pos = 0
    while pos < len(buf):
        key, pos = _read_varint(buf, pos)
        field, wire = key >> 3, key & 0x7
        if wire == 0:
            val, pos = _read_varint(buf, pos)
            yield field, wire, val
        elif wire == 2:
            ln, pos = _read_varint(buf, pos)
            yield field, wire, buf[pos : pos + ln]
            pos += ln
        elif wire == 5:
            pos += 4
        elif wire == 1:
            pos += 8
        else:
            raise ValueError(f"unsupported protobuf wire type {wire}")


# ---------------------------------------------------------------- encoder
def _split_iri(iri: str) -> tuple[str, str]:
    """Longest prefix ending at the last '#' or '/' — the conventional
    Jelly encoder split that makes the prefix table effective."""
    cut = max(iri.rfind("#"), iri.rfind("/"))
    if cut < 0:
        return "", iri
    return iri[: cut + 1], iri[cut + 1 :]


class _Table:
    """Encoder-side lookup table: value → id, FIFO slot reuse when full.
    Overwriting a slot re-emits the entry row with an explicit id, which
    the decoder's `table[id] = value` semantics handle natively."""

    def __init__(self, max_size: int) -> None:
        if max_size < 1:
            # spec-legal "no table" streams put full IRIs in the name table;
            # this encoder always splits, so it needs at least one slot
            raise ValueError("jelly encoder tables need max_size >= 1")
        self.max = max_size
        self.ids: dict[str, int] = {}
        self._slots: list[str] = []
        self._clock = 0

    def lookup(self, value: str, in_use: set[int]) -> tuple[int, bool]:
        """(id, is_new). is_new means an entry row must be emitted.

        ``in_use`` holds ids already referenced by the triple currently
        being encoded: evicting one of those would overwrite the entry
        BEFORE the decoder reads the triple row that references it (all
        entry rows precede their triple row), silently corrupting the
        stream — found by the property test at tiny table sizes."""
        got = self.ids.get(value)
        if got is not None:
            return got, False
        if len(self._slots) < self.max:
            self._slots.append(value)
            new_id = len(self._slots)
        else:
            new_id = None
            for _ in range(self.max):
                cand = self._clock + 1
                self._clock = (self._clock + 1) % self.max
                if cand not in in_use:
                    new_id = cand
                    break
            if new_id is None:
                raise ValueError(
                    "jelly encoder lookup table too small for one triple "
                    "— use a max table size of at least 8"
                )
            del self.ids[self._slots[new_id - 1]]
            self._slots[new_id - 1] = value
        self.ids[value] = new_id
        return new_id, True


class JellyEncoder:
    """Stateful flat-triples encoder; one instance per output stream
    (lookup tables and repeated-term state are stream-scoped)."""

    def __init__(
        self,
        max_name_table: int = 4000,
        max_prefix_table: int = 150,
        max_datatype_table: int = 32,
        stream_name: str = "",
    ) -> None:
        self.names = _Table(max_name_table)
        self.prefixes = _Table(max_prefix_table)
        self.datatypes = _Table(max_datatype_table)
        self._last = [None, None, None]  # repeated-term elision state
        # ids referenced by the in-flight triple (eviction must skip them)
        self._used_names: set[int] = set()
        self._used_prefixes: set[int] = set()
        self._used_datatypes: set[int] = set()
        self._opts = (
            _field_str(_OPT_STREAM_NAME, stream_name)
            + _field_varint(_OPT_PHYSICAL_TYPE, _PHYSICAL_TRIPLES)
            + _field_varint(_OPT_MAX_NAME, max_name_table)
            + _field_varint(_OPT_MAX_PREFIX, max_prefix_table)
            + _field_varint(_OPT_MAX_DATATYPE, max_datatype_table)
            + _field_varint(_OPT_LOGICAL_TYPE, _LOGICAL_FLAT_TRIPLES)
            + _field_varint(_OPT_VERSION, _PROTO_VERSION)
        )
        self._emitted_options = False

    def _iri_bytes(self, iri: str, pending: list[bytes]) -> bytes:
        prefix, name = _split_iri(iri)
        pid, new_p = self.prefixes.lookup(prefix, self._used_prefixes)
        self._used_prefixes.add(pid)
        if new_p:
            pending.append(
                _field_bytes(
                    _ROW_PREFIX,
                    _field_varint(_ENTRY_ID, pid) + _field_str(_ENTRY_VALUE, prefix),
                )
            )
        nid, new_n = self.names.lookup(name, self._used_names)
        self._used_names.add(nid)
        if new_n:
            pending.append(
                _field_bytes(
                    _ROW_NAME,
                    _field_varint(_ENTRY_ID, nid) + _field_str(_ENTRY_VALUE, name),
                )
            )
        return _field_varint(_IRI_PREFIX_ID, pid) + _field_varint(_IRI_NAME_ID, nid)

    def _literal_bytes(self, term: Term, pending: list[bytes]) -> bytes:
        _, lex, lang, dt = term
        out = _field_str(_LIT_LEX, lex)
        if lang:
            out += _field_str(_LIT_LANGTAG, lang)
        elif dt:
            did, new_d = self.datatypes.lookup(dt, self._used_datatypes)
            self._used_datatypes.add(did)
            if new_d:
                pending.append(
                    _field_bytes(
                        _ROW_DATATYPE,
                        _field_varint(_ENTRY_ID, did) + _field_str(_ENTRY_VALUE, dt),
                    )
                )
            out += _field_varint(_LIT_DATATYPE, did)
        return out

    def _term_bytes(
        self, term: Term, base_field: int, pending: list[bytes]
    ) -> bytes:
        kind = term[0]
        if kind == "iri":
            return _field_bytes(base_field, self._iri_bytes(term[1], pending))
        if kind == "bnode":
            return _field_str(base_field + 1, term[1])
        if kind == "literal":
            return _field_bytes(base_field + 2, self._literal_bytes(term, pending))
        raise ValueError(f"unsupported term kind {kind!r}")

    def encode_frame(self, triples: Iterable[Triple]) -> bytes:
        """One RdfStreamFrame (undelimited bytes) holding `triples`; the
        first frame of the stream leads with the options row."""
        rows: list[bytes] = []
        if not self._emitted_options:
            rows.append(_field_bytes(_ROW_OPTIONS, self._opts))
            self._emitted_options = True
        for s, p, o in triples:
            pending: list[bytes] = []
            self._used_names.clear()
            self._used_prefixes.clear()
            self._used_datatypes.clear()
            body = b""
            for idx, (term, base) in enumerate(((s, _T_S_IRI), (p, _T_P_IRI), (o, _T_O_IRI))):
                if self._last[idx] == term:
                    continue  # repeated-term elision: field left unset
                body += self._term_bytes(term, base, pending)
                self._last[idx] = term
            rows.extend(pending)  # lookup entries precede their first use
            rows.append(_field_bytes(_ROW_TRIPLE, body))
        return b"".join(_field_bytes(_FRAME_ROWS, r) for r in rows)


def encode_delimited(
    triples: Iterable[Triple], frame_size: int = 256, **encoder_kwargs
) -> Iterator[bytes]:
    """Triples → delimited-frame byte chunks (varint length + frame), the
    form the reference writes (rdf_sink.py:108 write_delimited)."""
    enc = JellyEncoder(**encoder_kwargs)
    batch: list[Triple] = []
    for t in triples:
        batch.append(t)
        if len(batch) >= frame_size:
            frame = enc.encode_frame(batch)
            yield _varint(len(frame)) + frame
            batch = []
    if batch or not enc._emitted_options:
        frame = enc.encode_frame(batch)  # may be options-only (empty stream)
        yield _varint(len(frame)) + frame


# ---------------------------------------------------------------- decoder
class JellyDecoder:
    """Stateful flat-triples decoder; handles explicit AND compressed
    streams (zero-id auto-increment, previous-prefix reuse, repeated-term
    elision) so real encoders' output parses, not just ours."""

    def __init__(self) -> None:
        self.names: dict[int, str] = {}
        self.prefixes: dict[int, str] = {}
        self.datatypes: dict[int, str] = {}
        self._last_name_entry = 0
        self._last_prefix_entry = 0
        self._last_datatype_entry = 0
        self._last_iri_prefix = 0  # prefix_id=0 in RdfIri → reuse this
        self._last_iri_name = 0  # name_id=0 in RdfIri → this + 1
        self._last = [None, None, None]

    def _entry(self, buf: bytes) -> tuple[int, str]:
        eid, val = 0, ""
        for field, _, v in _iter_fields(buf):
            if field == _ENTRY_ID:
                eid = v
            elif field == _ENTRY_VALUE:
                val = v.decode("utf-8")
        return eid, val

    def _iri(self, buf: bytes) -> Term:
        pid = nid = 0
        for field, _, v in _iter_fields(buf):
            if field == _IRI_PREFIX_ID:
                pid = v
            elif field == _IRI_NAME_ID:
                nid = v
        if nid == 0:
            nid = self._last_iri_name + 1
        self._last_iri_name = nid
        if pid == 0:
            pid = self._last_iri_prefix
        else:
            self._last_iri_prefix = pid
        prefix = self.prefixes.get(pid, "") if pid else ""
        name = self.names.get(nid)
        if name is None:
            raise ValueError(f"jelly: undefined name id {nid}")
        return ("iri", prefix + name)

    def _literal(self, buf: bytes) -> Term:
        lex, lang, dt = "", None, None
        for field, _, v in _iter_fields(buf):
            if field == _LIT_LEX:
                lex = v.decode("utf-8")
            elif field == _LIT_LANGTAG:
                lang = v.decode("utf-8")
            elif field == _LIT_DATATYPE:
                dt = self.datatypes.get(v)
                if dt is None:
                    raise ValueError(f"jelly: undefined datatype id {v}")
        return ("literal", lex, lang, dt)

    def _triple(self, buf: bytes) -> Triple:
        terms: list = list(self._last)  # unset oneof → previous term
        for field, _, v in _iter_fields(buf):
            if field in (_T_S_TTERM, _T_P_TTERM, _T_O_TTERM):
                raise ValueError("jelly: RDF-star triple terms unsupported")
            if not 1 <= field <= _T_O_TTERM:
                # protobuf convention: unknown fields (a newer spec rev) are
                # skipped, not errors — keeps foreign encoders' streams readable
                continue
            slot, kind = divmod(field - 1, 4)
            if kind == 0:
                terms[slot] = self._iri(v)
            elif kind == 1:
                terms[slot] = ("bnode", v.decode("utf-8"))
            elif kind == 2:
                terms[slot] = self._literal(v)
        if any(t is None for t in terms):
            raise ValueError("jelly: repeated term before any term was set")
        self._last = terms
        return tuple(terms)

    def decode_frame(self, frame: bytes) -> Iterator[Triple]:
        for field, _, row in _iter_fields(frame):
            if field != _FRAME_ROWS:
                continue  # frame metadata — ignored
            for rfield, _, v in _iter_fields(row):
                if rfield == _ROW_TRIPLE:
                    yield self._triple(v)
                elif rfield == _ROW_NAME:
                    eid, val = self._entry(v)
                    if eid == 0:
                        eid = self._last_name_entry + 1
                    self._last_name_entry = eid
                    self.names[eid] = val
                elif rfield == _ROW_PREFIX:
                    eid, val = self._entry(v)
                    if eid == 0:
                        eid = self._last_prefix_entry + 1
                    self._last_prefix_entry = eid
                    self.prefixes[eid] = val
                elif rfield == _ROW_DATATYPE:
                    eid, val = self._entry(v)
                    if eid == 0:
                        eid = self._last_datatype_entry + 1
                    self._last_datatype_entry = eid
                    self.datatypes[eid] = val
                elif rfield == _ROW_OPTIONS:
                    self._check_options(v)
                elif rfield in (_ROW_QUAD, _ROW_GRAPH_START, _ROW_GRAPH_END):
                    raise ValueError(
                        "jelly: quad/graph stream — KGX reads triple streams only"
                    )
                # a namespace row (field 6) is advisory (prefix declarations) — ignored

    @staticmethod
    def _check_options(buf: bytes) -> None:
        for field, _, v in _iter_fields(buf):
            if field == _OPT_PHYSICAL_TYPE and v not in (0, _PHYSICAL_TRIPLES):
                raise ValueError(f"jelly: unsupported physical stream type {v}")
            if field == _OPT_GENERALIZED and v:
                raise ValueError("jelly: generalized statements unsupported")
            if field == _OPT_RDF_STAR and v:
                raise ValueError("jelly: RDF-star streams unsupported")


def decode(data: bytes) -> Iterator[Triple]:
    """Decode a jelly byte stream — delimited (the usual file form) or a
    single undelimited frame. Disambiguation per the spec note: a frame
    starts with the rows-field tag 0x0A, so a first byte of 0x0A means
    undelimited; any other first byte is a delimited length varint (a
    10-byte first frame is indistinguishable, accepted ambiguity also
    present in the reference implementations)."""
    if not data:
        return
    dec = JellyDecoder()
    if data[0] == 0x0A:
        yield from dec.decode_frame(data)
        return
    pos = 0
    while pos < len(data):
        ln, pos = _read_varint(data, pos)
        yield from dec.decode_frame(data[pos : pos + ln])
        pos += ln
