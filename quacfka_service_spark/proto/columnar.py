"""Code-generated COLUMNAR protobuf decoders: wire bytes -> Arrow arrays
with no per-record dict materialization.  This is the service's one
Python decoder (proto/decode.py runs it inside ``mapInArrow``);
``wire.decode_message`` is the interpretive reference it is tested
against.

The reference's ingest hot path is *generated* zero-copy decode
(gen/bidrequest_vtproto.pb.go — protoc-plugin output, one specialized
Unmarshal per message).  This module compiles, per message spec in
wire.py, a specialized Python function with the tag dispatch unrolled
into a binary tree of comparisons over the precomputed
``field_number << 3 | wire_type`` keys, varint reads inlined with a
1-byte fast path, and submessages parsed in place via (buf, pos, end)
windows.  Each field is appended DIRECTLY into per-leaf Python lists
(the columnar accumulators) instead of a per-record dict graph; the
Arrow batch is then assembled bottom-up ONCE per batch with
``pa.array`` / ``StructArray.from_arrays`` / ``ListArray.from_arrays``
over homogeneous lists — the decoder-level analog of writing a parquet
column chunk instead of row objects.

Layout per message node (unique integer id per position in the spec
tree; granularity = one entry per occurrence row):

- scalar field f          -> ``c_<id>_<f>``  value list
- repeated scalar f       -> ``o_<id>_<f>``  offsets (starts [0]) +
                             ``c_<id>_<f>``  element values
- singular message f      -> ``p_<id>_<f>``  presence bools; child node
                             lists run at the SAME granularity (absent
                             parent rows are null-filled)
- repeated message f      -> ``o_<id>_<f>``  offsets; child node lists
                             run at ELEMENT granularity

Semantics are pinned IDENTICAL to wire.decode_message
(proto3 defaults, absent message -> null struct, repeated -> empty
list, last-wins duplicate singular message via subtree truncation,
unknown-field skip, window-overrun detection);
tests/test_wire_property.py compares the assembled Arrow batch against
``RecordBatch.from_pylist`` of the reference decode on random
full-width messages.
"""

from __future__ import annotations

from typing import Any

from . import wire

# inlined varint fast path, shared by all generated branches (emitted at
# base indent 0; emitters add their own).  Reads the varint at `pos`
# into `{v}`; multi-byte values fall back to a loop identical to
# wire.decode_varint.
_VARINT = """\
b = buf[pos]; pos += 1
if b < 128:
    {v} = b
else:
    {v} = b & 127; shift = 7
    while True:
        b = buf[pos]; pos += 1
        if b < 128:
            {v} |= b << shift; break
        {v} |= (b & 127) << shift; shift += 7
        if shift >= 70:
            raise ValueError("varint too long")"""

# sign reinterpretation, mirroring wire.decode_message exactly: the
# varint is ALWAYS truncated to the declared field width before the
# sign fix (wire-standard: C++ protobuf reads int32 as the low 32 bits
# of the varint).  Every wire-legal encoding is unaffected — a proto3
# writer sign-extends negative int32 to 64 bits, so legal values live
# in [0, 2^31) ∪ [2^64-2^31, 2^64) and truncation is the identity on
# the decoded result.  The mask matters for MALFORMED frames: junk
# bytes that parse as a mid-range varint (e.g. 562949953421311) must
# decode to a width-legal value instead of poisoning a downstream
# int32 Arrow column.
_SIGN32 = """\
v &= 4294967295
if v >= 2147483648: v -= 4294967296"""
_SIGN64 = """\
v &= 18446744073709551615
if v >= 9223372036854775808: v -= 18446744073709551616"""


def _indent(block: str, by: str) -> str:
    return "\n".join(by + ln if ln.strip() else ln for ln in block.splitlines())


# Inline unknown-field skip for the two wire types that dominate proto3
# payloads (varint=0, length-delimited=2): a projected decoder skips
# most of the record, and the function call into _skip was ~10% of
# decode wall — the leaf else inlines the hot skip and keeps _skip for
# the rare fixed32/fixed64 types only.
_INLINE_SKIP = """\
wt = key & 7
if wt == 2:
    ln = buf[pos]; pos += 1
    if ln >= 128:
        ln &= 127; shift = 7
        while True:
            b = buf[pos]; pos += 1
            if b < 128:
                ln |= b << shift; break
            ln |= (b & 127) << shift; shift += 7
    pos += ln
elif wt == 0:
    while buf[pos] >= 128: pos += 1
    pos += 1
else:
    pos = _skip(buf, pos, key)"""


def _emit_tree(
    handlers: list[tuple[int, list[str]]], lines: list[str], ind: str
) -> None:
    """Binary-search dispatch over sorted (key, handler) pairs; every
    miss falls through to the inlined unknown-field skip."""
    if len(handlers) == 1:
        key, body = handlers[0]
        lines.append(f"{ind}if key == {key}:")
        for stmt in body:
            lines.append(_indent(stmt, ind + "    "))
        lines.append(f"{ind}else:")
        lines.append(_indent(_INLINE_SKIP, ind + "    "))
        return
    mid = len(handlers) // 2
    lines.append(f"{ind}if key < {handlers[mid][0]}:")
    _emit_tree(handlers[:mid], lines, ind + "    ")
    lines.append(f"{ind}else:")
    _emit_tree(handlers[mid:], lines, ind + "    ")


def _kind_default(kind: str, eager_strings: bool) -> str:
    empty = "''" if eager_strings else "b''"
    return {"string": empty, "int32": "0", "int64": "0", "float": "0.0"}[kind]


class _Gen:
    """One compile pass over a spec tree.

    ``eager_strings=False`` (the default hot path) appends raw BYTES
    slices for string fields; ``finish`` builds a binary array and
    casts to utf8 — UTF-8 validation happens once per COLUMN in Arrow C
    instead of per value in CPython (measured ~15% of projected decode).
    Permissive decode needs ``eager_strings=True``: a malformed UTF-8
    byte must fail inside append_record (so only that record rolls
    back), not at the batch-level cast."""

    def __init__(self, spec: dict, eager_strings: bool = False):
        self.lines: list[str] = []
        self.node_children: dict[int, dict[int, int]] = {}  # nid -> {num: child nid}
        self.counter = 0
        self.eager_strings = eager_strings
        self.scalar_lists: list[str] = []   # reset via .clear()
        self.offset_lists: list[str] = []   # reset via del o[1:]
        self.root_id = self._walk(spec)

    # --- accumulators ------------------------------------------------

    def _decl(self, spec: dict, nid: int) -> None:
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("string", "int32", "int64", "float", "strings", "int32s"):
                self.lines.append(f"c_{nid}_{name} = []")
                self.scalar_lists.append(f"c_{nid}_{name}")
            if kind in ("strings", "int32s", "messages"):
                self.lines.append(f"o_{nid}_{name} = [0]")
                self.offset_lists.append(f"o_{nid}_{name}")
            if kind == "message":
                self.lines.append(f"p_{nid}_{name} = []")
                self.scalar_lists.append(f"p_{nid}_{name}")

    def _canonical(self, spec: dict, nid: int) -> tuple[str, bool]:
        """(list name, is_offsets) whose length tracks this node's row
        count: every decoded/nulled row appends exactly one entry to
        each direct scalar/presence list and one to each offsets."""
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("string", "int32", "int64", "float"):
                return f"c_{nid}_{name}", False
            if kind == "message":
                return f"p_{nid}_{name}", False
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("strings", "int32s", "messages"):
                return f"o_{nid}_{name}", True
        raise ValueError("empty message spec")

    def _rows_expr(self, spec: dict, nid: int) -> str:
        lst, is_off = self._canonical(spec, nid)
        return f"(len({lst}) - 1)" if is_off else f"len({lst})"

    # --- per-node functions -------------------------------------------

    def _emit_trunc(self, spec: dict, nid: int) -> None:
        self.lines.append(f"def _trunc_{nid}(n):")
        body = []
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("string", "int32", "int64", "float"):
                body.append(f"    del c_{nid}_{name}[n:]")
            elif kind in ("strings", "int32s"):
                body.append(f"    del o_{nid}_{name}[n + 1:]")
                body.append(f"    del c_{nid}_{name}[o_{nid}_{name}[-1]:]")
            elif kind == "message":
                child = self.node_children[nid][num]
                body.append(f"    del p_{nid}_{name}[n:]")
                body.append(f"    _trunc_{child}(n)")
            elif kind == "messages":
                child = self.node_children[nid][num]
                body.append(f"    del o_{nid}_{name}[n + 1:]")
                body.append(f"    _trunc_{child}(o_{nid}_{name}[-1])")
        self.lines.extend(body or ["    pass"])
        self.lines.append("")

    def _emit_null(self, spec: dict, nid: int) -> None:
        self.lines.append(f"def _null_{nid}():")
        body = []
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("string", "int32", "int64", "float"):
                body.append(f"    c_{nid}_{name}.append(None)")
            elif kind in ("strings", "int32s", "messages"):
                body.append(f"    o_{nid}_{name}.append(o_{nid}_{name}[-1])")
            if kind == "message":
                child = self.node_children[nid][num]
                body.append(f"    p_{nid}_{name}.append(False)")
                body.append(f"    _null_{child}()")
        self.lines.extend(body or ["    pass"])
        self.lines.append("")

    def _handler(self, nid: int, num: int, name: str, kind: str,
                 packed: bool) -> list[str]:
        dec = ".decode('utf-8')" if self.eager_strings else ""
        out: list[str] = []
        if kind == "string":
            out.append(_VARINT.format(v="ln"))
            out.append(f"v_{name} = buf[pos:pos+ln]{dec}; pos += ln")
        elif kind in ("int32", "int64"):
            sign = _SIGN32 if kind == "int32" else _SIGN64
            out.append(
                f"b = buf[pos]; pos += 1\n"
                f"if b < 128:\n"
                f"    v_{name} = b\n"
                f"else:\n"
                f"    v = b & 127; shift = 7\n"
                f"    while True:\n"
                f"        b = buf[pos]; pos += 1\n"
                f"        if b < 128:\n"
                f"            v |= b << shift; break\n"
                f"        v |= (b & 127) << shift; shift += 7\n"
                f"        if shift >= 70:\n"
                f"            raise ValueError('varint too long')\n"
                + _indent(sign, "    ")
                + f"\n    v_{name} = v"
            )
        elif kind == "float":
            out.append(f"v_{name} = _uf(buf, pos)[0]; pos += 4")
        elif kind == "message":
            child = self.node_children[nid][num]
            out.append(_VARINT.format(v="ln"))
            # last-wins duplicate: drop the previously appended subtree row
            out.append(
                f"if s_{name}: _trunc_{child}({self._rows_sub(nid, num)} - 1)"
            )
            out.append(f"e = pos + ln; _dec_{child}(buf, pos, e); pos = e; s_{name} = True")
        elif kind == "messages":
            child = self.node_children[nid][num]
            out.append(_VARINT.format(v="ln"))
            out.append(f"e = pos + ln; _dec_{child}(buf, pos, e); pos = e")
        elif kind == "strings":
            out.append(_VARINT.format(v="ln"))
            out.append(f"a_c_{nid}_{name}(buf[pos:pos+ln]{dec}); pos += ln")
        elif kind == "int32s" and packed:
            out.append(_VARINT.format(v="ln"))
            out.append("e = pos + ln")
            out.append("while pos < e:")
            out.append(_indent(_VARINT.format(v="v"), "    "))
            out.append(_indent(_SIGN32, "    "))
            out.append(f"    a_c_{nid}_{name}(v)")
        elif kind == "int32s":
            out.append(_VARINT.format(v="v"))
            out.append(_SIGN32)
            out.append(f"a_c_{nid}_{name}(v)")
        return out

    def _rows_sub(self, nid: int, num: int) -> str:
        child = self.node_children[nid][num]
        return self._child_rows[child]

    def _emit_dec(self, spec: dict, nid: int) -> None:
        # bind appends / lists / helpers as default args (C-array local
        # access: one C-array index vs a dict lookup per use)
        binds: list[str] = ["_uf=_uf", "_skip=_skip"]
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("string", "int32", "int64", "float"):
                binds.append(f"a_c_{nid}_{name}=c_{nid}_{name}.append")
            elif kind in ("strings", "int32s"):
                binds.append(f"a_c_{nid}_{name}=c_{nid}_{name}.append")
                binds.append(f"a_o_{nid}_{name}=o_{nid}_{name}.append")
                binds.append(f"c_{nid}_{name}=c_{nid}_{name}")
            elif kind == "message":
                child = self.node_children[nid][num]
                binds.append(f"a_p_{nid}_{name}=p_{nid}_{name}.append")
                binds.append(f"_dec_{child}=_dec_{child}")
                binds.append(f"_null_{child}=_null_{child}")
                binds.append(f"_trunc_{child}=_trunc_{child}")
                cl = self._child_canon[child]
                binds.append(f"{cl}={cl}")
            elif kind == "messages":
                child = self.node_children[nid][num]
                binds.append(f"a_o_{nid}_{name}=o_{nid}_{name}.append")
                binds.append(f"_dec_{child}=_dec_{child}")
                cl = self._child_canon[child]
                binds.append(f"{cl}={cl}")
        # de-dup binds (a canonical list may serve two fields)
        seen: set[str] = set()
        uniq = []
        for b in binds:
            k = b.split("=")[0]
            if k not in seen:
                seen.add(k)
                uniq.append(b)
        self.lines.append(f"def _dec_{nid}(buf, pos, end, {', '.join(uniq)}):")
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("string", "int32", "int64", "float"):
                self.lines.append(f"    v_{name} = {_kind_default(kind, self.eager_strings)}")
            elif kind == "message":
                self.lines.append(f"    s_{name} = False")
        self.lines.append("    while pos < end:")
        self.lines.append(_indent(_VARINT.format(v="key"), "        "))
        handlers: list[tuple[int, list[str]]] = []
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("string", "message", "messages", "strings"):
                handlers.append(((num << 3) | 2, self._handler(nid, num, name, kind, False)))
            elif kind in ("int32", "int64"):
                handlers.append(((num << 3) | 0, self._handler(nid, num, name, kind, False)))
            elif kind == "float":
                handlers.append(((num << 3) | 5, self._handler(nid, num, name, kind, False)))
            elif kind == "int32s":
                handlers.append(((num << 3) | 2, self._handler(nid, num, name, kind, True)))
                handlers.append(((num << 3) | 0, self._handler(nid, num, name, kind, False)))
        handlers.sort(key=lambda kv: kv[0])
        _emit_tree(handlers, self.lines, "        ")
        self.lines.append("    if pos > end: raise ValueError('message overruns its window')")
        # epilogue: exactly one row appended to every direct accumulator
        for num in sorted(spec):
            name, kind, _sub = spec[num]
            if kind in ("string", "int32", "int64", "float"):
                self.lines.append(f"    a_c_{nid}_{name}(v_{name})")
            elif kind in ("strings", "int32s"):
                self.lines.append(f"    a_o_{nid}_{name}(len(c_{nid}_{name}))")
            elif kind == "message":
                child = self.node_children[nid][num]
                self.lines.append(f"    if s_{name}: a_p_{nid}_{name}(True)")
                self.lines.append(f"    else:")
                self.lines.append(f"        _null_{child}(); a_p_{nid}_{name}(False)")
            elif kind == "messages":
                child = self.node_children[nid][num]
                self.lines.append(f"    a_o_{nid}_{name}({self._child_rows[child]})")
        self.lines.append("")

    # --- walk ----------------------------------------------------------

    def _walk(self, spec: dict) -> int:
        nid = self.counter
        self.counter += 1
        self.node_children[nid] = {}
        self._decl(spec, nid)
        if not hasattr(self, "_child_rows"):
            self._child_rows: dict[int, str] = {}
            self._child_canon: dict[int, str] = {}
        for num in sorted(spec):
            _name, kind, sub = spec[num]
            if kind in ("message", "messages"):
                child = self._walk(sub)
                self.node_children[nid][num] = child
        # children emitted first (post-order) so parent default-arg
        # binds resolve
        self._emit_trunc(spec, nid)
        self._emit_null(spec, nid)
        self._emit_dec(spec, nid)
        self._child_rows[nid] = self._rows_expr(spec, nid)
        self._child_canon[nid] = self._canonical(spec, nid)[0]
        return nid


_PRELUDE = [
    "import struct",
    "_uf = struct.Struct('<f').unpack_from",
    "",
    "def _skip(buf, pos, key):",
    "    wt = key & 7",
    "    if wt == 0:",
    "        while buf[pos] >= 128: pos += 1",
    "        return pos + 1",
    "    if wt == 2:",
    "        ln = 0; shift = 0",
    "        while True:",
    "            b = buf[pos]; pos += 1",
    "            ln |= (b & 127) << shift",
    "            if b < 128: break",
    "            shift += 7",
    "        return pos + ln",
    "    if wt == 1: return pos + 8",
    "    if wt == 5: return pos + 4",
    "    raise ValueError('unsupported wire type %d' % wt)",
    "",
]


class ColumnarDecoder:
    """Compiled columnar decoder for one spec tree.

    Usage per Arrow batch::

        dec.append_record(buf, 0, len(buf))   # n times; raises+rolls back
        batch_cols = dec.finish(arrow_struct_type)  # arrays + reset

    ``finish`` returns the top-level arrays in spec order (ascending
    field number — the same order schema.struct_of emits), then resets
    the accumulators for the next batch.
    """

    def __init__(self, spec: dict, eager_strings: bool = False):
        self.spec = spec
        self._eager_strings = eager_strings
        gen = _Gen(spec, eager_strings=eager_strings)
        src = "\n".join(_PRELUDE + gen.lines)
        ns: dict[str, Any] = {}
        exec(compile(src, "<columnar>", "exec"), ns)  # noqa: S102
        self._ns = ns
        self._gen = gen
        self._dec_root = ns[f"_dec_{gen.root_id}"]
        self._trunc_root = ns[f"_trunc_{gen.root_id}"]
        root_canon, is_off = gen._canonical(spec, gen.root_id)
        self._root_list = ns[root_canon]
        self._root_is_off = is_off
        self._scalars = [ns[n] for n in gen.scalar_lists]
        self._offsets = [ns[n] for n in gen.offset_lists]
        self.__source__ = src  # for debugging

    @property
    def rows(self) -> int:
        n = len(self._root_list)
        return n - 1 if self._root_is_off else n

    def append_record(self, buf, pos: int, end: int) -> None:
        """Decode one record; on ANY failure the accumulators are rolled
        back to the pre-record state (permissive mode drops the record
        without poisoning the batch)."""
        before = self.rows
        try:
            self._dec_root(buf, pos, end)
        except Exception:
            self._trunc_root(before)
            raise

    def _build(self, spec: dict, nid: int, struct_type) -> list:
        import pyarrow as pa

        ns = self._ns
        children = self._gen.node_children[nid]
        arrays = []
        for i, num in enumerate(sorted(spec)):
            name, kind, sub = spec[num]
            ftype = struct_type.field(i).type
            if kind == "string" and not self._eager_strings:
                # bytes slices -> one C-side UTF-8 validation per column
                arrays.append(
                    pa.array(ns[f"c_{nid}_{name}"], type=pa.binary()).cast(ftype)
                )
            elif kind in ("string", "int32", "int64", "float"):
                arrays.append(pa.array(ns[f"c_{nid}_{name}"], type=ftype))
            elif kind in ("strings", "int32s"):
                if kind == "strings" and not self._eager_strings:
                    vals = pa.array(
                        ns[f"c_{nid}_{name}"], type=pa.binary()
                    ).cast(ftype.value_type)
                else:
                    vals = pa.array(ns[f"c_{nid}_{name}"], type=ftype.value_type)
                off = pa.array(ns[f"o_{nid}_{name}"], pa.int32())
                arr = pa.ListArray.from_arrays(off, vals)
                arrays.append(arr.cast(ftype) if arr.type != ftype else arr)
            elif kind == "message":
                kids = self._build(sub, children[num], ftype)
                mask = pa.array(
                    [not b for b in ns[f"p_{nid}_{name}"]], pa.bool_()
                )
                arrays.append(
                    pa.StructArray.from_arrays(kids, fields=list(ftype), mask=mask)
                )
            elif kind == "messages":
                elem = ftype.value_type
                kids = self._build(sub, children[num], elem)
                child_struct = pa.StructArray.from_arrays(kids, fields=list(elem))
                off = pa.array(ns[f"o_{nid}_{name}"], pa.int32())
                arr = pa.ListArray.from_arrays(off, child_struct)
                arrays.append(arr.cast(ftype) if arr.type != ftype else arr)
        return arrays

    def finish(self, struct_type) -> list:
        """Assemble top-level Arrow arrays (spec order) and reset."""
        out = self._build(self.spec, self._gen.root_id, struct_type)
        for lst in self._scalars:
            lst.clear()
        for off in self._offsets:
            del off[1:]
        return out


# --- projection pushdown into the decoder ---------------------------------
#
# mapInArrow output is a black box to Catalyst: downstream column pruning
# cannot reach through it, so a full-width decode pays wire-parse + Arrow
# conversion + JVM row conversion for all 22 messages even when the
# consumer reads 10 fields.  The fix is the decoder-level analog of
# parquet nested-schema pruning: compile a decoder for a PRUNED spec —
# unneeded fields hit the unknown-field skip path (a length jump, no
# parse, no allocation).  The JVM from_protobuf path cannot do this
# (protobuf descriptors are all-or-nothing); it's a genuine advantage of
# owning the codec.

def prune_spec(spec: dict, paths) -> dict:
    """Subset of ``spec`` covering the given dotted paths.  A path that
    names a message keeps that whole submessage ('site.publisher'); a
    dotted path keeps only the named leaves ('imp.banner.w')."""
    tree: dict[str, set] = {}
    for p in paths:
        head, _, rest = p.partition(".")
        tree.setdefault(head, set())
        if rest:
            tree[head].add(rest)
    out = {}
    for num, (name, kind, sub) in spec.items():
        if name not in tree:
            continue
        rests = tree[name]
        if sub is not None and rests:
            out[num] = (name, kind, prune_spec(sub, rests))
        else:
            out[num] = (name, kind, sub)
    return out


def columnar_decoder_for(paths=None, eager_strings: bool = False) -> ColumnarDecoder:
    """Fresh decoder per call (accumulators are stateful; worker
    processes build one per task)."""
    spec = wire.BIDREQUEST_SPEC if not paths else prune_spec(
        wire.BIDREQUEST_SPEC, sorted(paths)
    )
    return ColumnarDecoder(spec, eager_strings=eager_strings)
