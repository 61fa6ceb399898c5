"""Binary pgoutput wire decoder — the reference's core operator, on Spark.

The reference hand-decodes PostgreSQL logical-replication messages
(examples/pgoutput/main.go:338-409: 1-byte tag dispatch, big-endian
fields, NUL-terminated strings, tupledata with 'n'/'u'/'t' column
flags) into per-process mutable state (RelationSet, main.go:411-427).
Format spec:
https://www.postgresql.org/docs/current/protocol-logicalrep-message-formats.html

Spark-first rethink:

- **frame decode** is inherently imperative byte-walking → an
  Arrow-batched ``mapInPandas`` (the one place Python belongs); each
  frame decodes independently, so it parallelizes over partitions;
- **each bounded slice decodes once**, as the reference's receive
  loop does: ``decode_frames`` memoizes one lazy ``localCheckpoint``
  per raw frame, filled by the first action (the announce's single
  collect) and read by the parse and the apply after it — lifetime
  and the executor-loss caveat at ``decode_frames``;
- **transaction context** (Begin's xid / commit timestamp, Origin
  name) is NOT process state: it is a fill-forward window over the
  stream order — ``last(..., ignorenulls)`` up to the current row;
- **relation announcements** ('R') resolve to data rows the same way,
  partitioned by relation id — an as-of association, not a mutable
  ``map[uint32]Relation``;
- **tupledata → named maps** is a ``zip_with`` of the announced
  column list against the tuple values, entirely JVM-side. Both the
  windows and the maps are SQL text, two ``selectExpr`` calls, so a
  parse plan costs a few py4j round trips, not one per Column node.

Canonical-map semantics (feeds ``registry.materialize`` /
``merge.apply_changes``):

- flag 't': decoded text value;
- flag 'n': SQL NULL → key present in the map with a null value;
- flag 'u' (unchanged TOAST): key **absent** from the map — absent
  means "unchanged", present-null means "really NULL", so the merge
  can tell the two apart (main.go:203's flag, kept distinguishable).

Replica-identity nuance: Update/Delete old images may be 'K'
(key-only) or 'O' (full old row) — surfaced as the ``key`` map
(always the announced key columns) vs the ``before`` map (whatever
old image the wire carried); a 'K' image yields before ≡ key.
"""

from __future__ import annotations

import struct
import threading
import warnings
import weakref
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# PostgreSQL epoch (2000-01-01 UTC) offset from Unix epoch, in µs.
PG_EPOCH_US = 946_684_800 * 1_000_000

# Common pg_type OIDs → type names (static PostgreSQL catalog
# knowledge); in-band 'Y' announcements override for custom types.
PG_OID_NAMES: dict[int, str] = {
    16: "boolean",
    17: "bytea",
    20: "bigint",
    21: "smallint",
    23: "integer",
    25: "text",
    114: "json",
    700: "real",
    701: "double precision",
    1042: "character",
    1043: "character varying",
    1082: "date",
    1083: "time without time zone",
    1114: "timestamp without time zone",
    1184: "timestamp with time zone",
    1700: "numeric",
    2950: "uuid",
    3802: "jsonb",
}

_DECODED_SCHEMA = (
    "__order long, tag string, error string, "
    "lsn long, ts_us long, xid long, "
    "rel_id long, namespace string, rel_name string, replica int, "
    "cols array<struct<is_key: boolean, name: string, type_oid: long, "
    "mode: long>>, "
    "type_oid long, type_ns string, type_name string, "
    "origin_name string, old_kind string, "
    "old_tuple array<struct<flag: string, value: string>>, "
    "new_tuple array<struct<flag: string, value: string>>, "
    "trunc_opts int, trunc_rel_ids array<long>"
)


class _Reader:
    """Big-endian cursor over one frame (after the tag byte)."""

    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def u8(self) -> int:
        v = self.buf[self.pos]
        self.pos += 1
        return v

    def u16(self) -> int:
        (v,) = struct.unpack_from(">H", self.buf, self.pos)
        self.pos += 2
        return v

    def u32(self) -> int:
        (v,) = struct.unpack_from(">I", self.buf, self.pos)
        self.pos += 4
        return v

    def u64(self) -> int:
        (v,) = struct.unpack_from(">Q", self.buf, self.pos)
        self.pos += 8
        return v

    def cstring(self) -> str:
        end = self.buf.index(0, self.pos)
        s = self.buf[self.pos : end].decode("utf-8")
        self.pos = end + 1
        return s

    def tupledata(self) -> list[dict]:
        n = self.u16()
        out = []
        for _ in range(n):
            flag = chr(self.u8())
            if flag == "t":
                size = self.u32()
                val = self.buf[self.pos : self.pos + size].decode("utf-8")
                self.pos += size
                out.append({"flag": "t", "value": val})
            else:  # 'n' (null) or 'u' (unchanged TOAST)
                out.append({"flag": flag, "value": None})
        return out

    def peek_in(self, chars: str) -> str | None:
        c = chr(self.buf[self.pos])
        if c in chars:
            self.pos += 1
            return c
        return None


def _decode_frame(frame: bytes) -> dict:
    """One wire message → flat field dict (tag-dependent fields set)."""
    out: dict = {"tag": None, "error": None}
    if not frame:
        out["error"] = "empty frame"
        return out
    tag = chr(frame[0])
    r = _Reader(frame, 1)
    try:
        if tag == "B":
            out.update(tag=tag, lsn=r.u64(), ts_us=r.u64(), xid=r.u32())
        elif tag == "C":
            r.u8()  # flags (unused, always 0)
            commit_lsn = r.u64()
            r.u64()  # end-of-transaction LSN
            ts = r.u64()
            out.update(tag=tag, lsn=commit_lsn, ts_us=ts)
        elif tag == "O":
            out.update(tag=tag, lsn=r.u64(), origin_name=r.cstring())
        elif tag == "R":
            rel_id = r.u32()
            ns = r.cstring()
            name = r.cstring()
            replica = r.u8()
            ncols = r.u16()
            cols = []
            for _ in range(ncols):
                cols.append(
                    {
                        "is_key": r.u8() == 1,
                        "name": r.cstring(),
                        "type_oid": r.u32(),
                        "mode": r.u32(),
                    }
                )
            out.update(
                tag=tag,
                rel_id=rel_id,
                namespace=ns,
                rel_name=name,
                replica=replica,
                cols=cols,
            )
        elif tag == "Y":
            out.update(
                tag=tag,
                type_oid=r.u32(),
                type_ns=r.cstring(),
                type_name=r.cstring(),
            )
        elif tag == "I":
            rel_id = r.u32()
            r.u8()  # 'N' marker
            out.update(tag=tag, rel_id=rel_id, new_tuple=r.tupledata())
        elif tag == "U":
            rel_id = r.u32()
            old_kind = r.peek_in("KO")
            old = r.tupledata() if old_kind else None
            r.u8()  # 'N' marker
            out.update(
                tag=tag,
                rel_id=rel_id,
                old_kind=old_kind,
                old_tuple=old,
                new_tuple=r.tupledata(),
            )
        elif tag == "D":
            rel_id = r.u32()
            old_kind = r.peek_in("KO")
            out.update(
                tag=tag,
                rel_id=rel_id,
                old_kind=old_kind,
                old_tuple=r.tupledata(),
            )
        elif tag == "T":
            nrels = r.u32()
            opts = r.u8()
            rel_ids = [r.u32() for _ in range(nrels)]
            out.update(tag=tag, trunc_opts=opts, trunc_rel_ids=rel_ids)
        else:
            out["error"] = f"unknown message tag {tag!r}"
    except (IndexError, struct.error, UnicodeDecodeError, ValueError) as e:
        return {"tag": None, "error": f"{tag}: truncated/invalid frame: {e}"}
    return out


# decoded frame per bounded raw frame and decode arguments; see
# decode_frames for the lifetime. DataFrames hash by identity.
_decoded: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_decoded_lock = threading.Lock()


def decode_frames(
    raw: DataFrame,
    value_col: str = "value",
    order_col: str | None = None,
    partition_col: str | None = None,
) -> DataFrame:
    """Binary frames → flat decoded rows (one per wire message).

    ``order_col``: pre-existing total order (Kafka offset / file line
    number); falls back to ``monotonically_increasing_id`` — ordered
    within and across partitions of one batch, same discipline as
    ``parse_wal2json``. ``partition_col`` (a source-partition column,
    e.g. the Kafka partition) is carried through the decode so
    downstream windows can partition by it.

    Decode once: for a bounded ``raw`` every call with the same
    arguments returns the same ``localCheckpoint(eager=False)`` of the
    decode, so the first action over it (normally the announce's
    collect) runs the Python decode and stores its blocks, and
    ``announce_to_registry``, ``parse_pgoutput_binary`` and whatever
    the caller runs on either afterwards read those blocks. The memo
    holds ``raw`` weakly and never references it; nothing releases
    the blocks explicitly — a lazy result built from them may be
    evaluated after ``raw`` is gone — so Spark's ContextCleaner drops
    them once no live plan references the checkpoint and the driver
    JVM has garbage-collected its RDD. Blocks cannot be
    recomputed: an executor lost after the first action makes a later
    read of the slice raise, and a bounded caller retries the slice.
    A streaming ``raw`` gets the plain decode (``localCheckpoint`` is
    not defined on streams), evaluated by each query that reads it.
    """
    if raw.isStreaming:
        return _decode(raw, value_col, order_col, partition_col)
    args = (value_col, order_col, partition_col)
    with _decoded_lock:
        memo = _decoded.setdefault(raw, {})
        if args not in memo:
            memo[args] = _decode(raw, *args).localCheckpoint(eager=False)
        return memo[args]


def _decode(
    raw: DataFrame,
    value_col: str,
    order_col: str | None,
    partition_col: str | None,
) -> DataFrame:
    order = (
        F.col(order_col)
        if order_col
        else F.monotonically_increasing_id()
    )
    sel = [
        order.cast("long").alias("__order"),
        F.col(value_col).alias("__frame"),
    ]
    schema = _DECODED_SCHEMA
    if partition_col:
        sel.append(F.col(partition_col).alias("__part"))
        ptype = raw.schema[partition_col].dataType.simpleString()
        schema = f"{schema}, {partition_col} {ptype}"
    src = raw.select(*sel)
    cols = _split_fields()

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for order_v, frame in zip(pdf["__order"], pdf["__frame"]):
                d = _decode_frame(bytes(frame) if frame is not None else b"")
                d["__order"] = int(order_v)
                rows.append(d)
            data = {c: [r.get(c) for r in rows] for c in cols}
            if partition_col:
                data[partition_col] = list(pdf["__part"])
            yield pd.DataFrame(data)

    return src.mapInPandas(decode, schema=schema)


def _split_fields() -> list[str]:
    """Top-level field names of _DECODED_SCHEMA (depth-0 commas)."""
    fields, depth, cur = [], 0, ""
    for ch in _DECODED_SCHEMA:
        if ch == "," and depth == 0:
            fields.append(cur.strip().split(" ")[0])
            cur = ""
        else:
            depth += ch in "<("
            depth -= ch in ">)"
            cur += ch
    fields.append(cur.strip().split(" ")[0])
    return fields


def _entries(tup: str) -> str:
    """SQL text: the announced columns ``__cols`` zipped with tuple
    ``tup`` → array of (name, value, flag, is_key) entries."""
    return (
        f"zip_with(__cols, {tup}, (c, t) -> named_struct("
        "'name', c.name, 'value', CASE WHEN t.flag = 't' THEN t.value END,"
        " 'flag', t.flag, 'is_key', c.is_key))"
    )


def _to_map(entries: str, keep: str) -> str:
    """SQL text: the ``keep`` entries as a name → value map."""
    return (
        f"CASE WHEN {entries} IS NOT NULL THEN map_from_entries(transform("
        f"filter({entries}, e -> {keep}), e -> struct(e.name, e.value))) END"
    )


def parse_pgoutput_binary(
    raw: DataFrame,
    value_col: str = "value",
    order_col: str | None = None,
    partition_col: str | None = None,
) -> DataFrame:
    """Binary pgoutput frames → canonical change rows.

    Reads ``decode_frames(raw, ...)``, so after an announce over the
    same ``raw`` the frames are not decoded again. The plan is built
    from SQL text (one ``selectExpr`` for the fill-forward context,
    one for the canonical projection), which costs a few py4j calls
    instead of one per Column node.

    ``partition_col`` is REQUIRED for input whose partitions carry
    INDEPENDENT frame orders (e.g. a Kafka topic with >1 partition):
    it names that source-partition column and the transaction
    fill-forward windows partition by it. Without it the windows run
    ``over (order by __order)`` globally — a single reducer. That is
    semantically forced for one replication slot's totally-ordered
    stream (exactly the reference's single-threaded loop,
    main.go:52-76), but a scale hazard if hit accidentally, so a
    physically multi-partition bounded input without ``partition_col``
    emits a RuntimeWarning. Physical chunking of one logical stream is
    still CORRECT (the window shuffles it to one total order) — the
    warning is about throughput at scale, hence not an error.
    """
    decoded = decode_frames(raw, value_col, order_col, partition_col)
    if partition_col is None and not raw.isStreaming:
        n_parts = raw.rdd.getNumPartitions()
        if n_parts > 1:
            warnings.warn(
                f"parse_pgoutput_binary: input has {n_parts} physical "
                "partitions but no partition_col — the transaction "
                "fill-forward window will run globally on ONE reducer. "
                "Correct for a single replication slot's total order; "
                "for multi-partition Kafka input pass partition_col so "
                "per-partition orders stay parallel.",
                RuntimeWarning,
                stacklevel=2,
            )

    part = [f"`{partition_col}`"] if partition_col else []

    def over(*by: str) -> str:  # fill-forward up to the current row
        pb = f"PARTITION BY {', '.join(by)} " if by else ""
        return (
            f"OVER ({pb}ORDER BY __order"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )

    w_tx, w_rel = over(*part), over("rel_id", *part)

    def last_of(tag: str, col: str) -> str:
        return f"last(CASE WHEN tag = '{tag}' THEN {col} END, true) {w_tx}"

    # one row per logical event: truncate frames explode to one row
    # per truncated relation id, then relation context resolves per id
    events = decoded.withColumn(
        "rel_id",
        F.expr(
            "explode_outer(CASE WHEN tag = 'T' THEN trunc_rel_ids"
            " ELSE array(rel_id) END)"
        ),
    )
    ctx = events.selectExpr(
        "*",
        f"{last_of('B', 'xid')} AS __xid",
        f"{last_of('B', 'ts_us')} AS __ts_us",
        # origin is per-tx: only an 'O' at or after the current Begin
        f"CASE WHEN {last_of('O', '__order')} >= {last_of('B', '__order')}"
        f" THEN {last_of('O', 'origin_name')} END AS __origin",
        f"last(namespace, true) {w_rel} AS __ns",
        f"last(rel_name, true) {w_rel} AS __rel",
        f"last(cols, true) {w_rel} AS __cols",
    )
    data = ctx.where("tag IN ('I', 'U', 'D', 'T') OR tag IS NULL")

    new_e, old_e = _entries("new_tuple"), _entries("old_tuple")
    key_src = f"CASE WHEN old_kind IS NOT NULL THEN {old_e} ELSE {new_e} END"
    # absent = unchanged TOAST ('u'); present-null = SQL NULL ('n')
    changed = "e.flag != 'u'"
    key = _to_map(key_src, f"e.is_key AND {changed}")
    oid_name = "map(" + ", ".join(
        f"{oid}, '{name}'" for oid, name in PG_OID_NAMES.items()
    ) + ")"
    return data.selectExpr(
        "CASE tag WHEN 'I' THEN 'c' WHEN 'U' THEN 'u' WHEN 'D' THEN 'd'"
        " WHEN 'T' THEN 't' END AS op",
        "__ns AS src_schema",
        "__rel AS src_table",
        "__order AS lsn",
        "__xid AS tx_id",
        f"timestamp_micros(__ts_us + {PG_EPOCH_US}) AS commit_ts",
        f"{key} AS key",
        f"{_to_map(old_e, changed)} AS before",
        f"{_to_map(new_e, changed)} AS after",
        "CASE WHEN __cols IS NOT NULL THEN map_from_entries(transform("
        f"__cols, c -> struct(c.name, coalesce({oid_name}[c.type_oid],"
        " CAST(c.type_oid AS STRING))))) END AS col_types",
        "__origin AS origin",
        "old_kind AS replica_identity",
        *part,
    )


def relation_announcements(decoded: DataFrame) -> DataFrame:
    """'R' frames as a relational view (rel_id, namespace, name,
    replica identity, exploded columns) — feed ``SchemaRegistry``
    .announce`` from it, or query schema history directly."""
    return (
        decoded.where(F.col("tag") == "R")
        .select(
            "__order",
            "rel_id",
            "namespace",
            "rel_name",
            "replica",
            F.posexplode("cols").alias("col_pos", "col"),
        )
        .select(
            "__order",
            "rel_id",
            "namespace",
            "rel_name",
            "replica",
            "col_pos",
            F.col("col.is_key").alias("is_key"),
            F.col("col.name").alias("col_name"),
            F.col("col.type_oid").alias("type_oid"),
        )
    )


# --- frame encoders (golden-fixture generation / tests) ---------------
# The inverse of the decoder, same wire layout. No broker in the test
# environment, so fixtures are synthesized frames mirroring the
# reference's events/*.json story.


def _cstr(s: str) -> bytes:
    return s.encode("utf-8") + b"\x00"


def _tup(cells: list[tuple[str, str | None]]) -> bytes:
    out = struct.pack(">H", len(cells))
    for flag, val in cells:
        out += flag.encode()
        if flag == "t":
            b = (val or "").encode("utf-8")
            out += struct.pack(">I", len(b)) + b
    return out


def encode_begin(lsn: int, ts_us: int, xid: int) -> bytes:
    return b"B" + struct.pack(">QQI", lsn, ts_us, xid)


def encode_commit(lsn: int, end_lsn: int, ts_us: int) -> bytes:
    return b"C" + struct.pack(">BQQQ", 0, lsn, end_lsn, ts_us)


def encode_origin(lsn: int, name: str) -> bytes:
    return b"O" + struct.pack(">Q", lsn) + _cstr(name)


def encode_relation(
    rel_id: int,
    namespace: str,
    name: str,
    replica: int,
    cols: list[tuple[bool, str, int, int]],
) -> bytes:
    out = b"R" + struct.pack(">I", rel_id) + _cstr(namespace) + _cstr(name)
    out += struct.pack(">BH", replica, len(cols))
    for is_key, cname, oid, mode in cols:
        out += struct.pack(">B", 1 if is_key else 0) + _cstr(cname)
        out += struct.pack(">II", oid, mode)
    return out


def encode_type(oid: int, namespace: str, name: str) -> bytes:
    return b"Y" + struct.pack(">I", oid) + _cstr(namespace) + _cstr(name)


def encode_insert(rel_id: int, cells: list[tuple[str, str | None]]) -> bytes:
    return b"I" + struct.pack(">I", rel_id) + b"N" + _tup(cells)


def encode_update(
    rel_id: int,
    new: list[tuple[str, str | None]],
    old: list[tuple[str, str | None]] | None = None,
    old_kind: str | None = None,
) -> bytes:
    out = b"U" + struct.pack(">I", rel_id)
    if old is not None:
        out += (old_kind or "O").encode() + _tup(old)
    return out + b"N" + _tup(new)


def encode_delete(
    rel_id: int,
    old: list[tuple[str, str | None]],
    old_kind: str = "K",
) -> bytes:
    return b"D" + struct.pack(">I", rel_id) + old_kind.encode() + _tup(old)


def encode_truncate(rel_ids: list[int], opts: int = 0) -> bytes:
    out = b"T" + struct.pack(">IB", len(rel_ids), opts)
    for rid in rel_ids:
        out += struct.pack(">I", rid)
    return out


def announce_to_registry(registry, decoded: DataFrame) -> None:
    """Replay 'R' frames (stream order) into a ``SchemaRegistry`` —
    the reference's RelationSet.Add loop (main.go:425-427). One
    bounded collect of the 'R' and 'Y' rows (one row per announced
    relation version or custom type), split on the driver: an in-band
    'Y' name overrides the static OID table when present. Over
    ``decode_frames(raw)`` of a bounded ``raw`` this is the action
    that decodes the slice (see ``decode_frames``)."""
    rows = (
        decoded.where("tag IN ('R', 'Y')")
        .select("__order", "tag", "namespace", "rel_name", "cols",
                "type_oid", "type_name")
        .collect()
    )
    y = {
        int(r["type_oid"]): r["type_name"] for r in rows if r["tag"] == "Y"
    }
    rels = [r for r in rows if r["tag"] == "R"]
    for r in sorted(rels, key=lambda r: r["__order"]):
        registry.announce(
            r["namespace"],
            r["rel_name"],
            [
                (
                    c["name"],
                    y.get(
                        int(c["type_oid"]),
                        PG_OID_NAMES.get(int(c["type_oid"]), "text"),
                    ),
                    bool(c["is_key"]),
                )
                for c in r["cols"]
            ],
        )
