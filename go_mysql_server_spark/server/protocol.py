"""MySQL client/server wire protocol primitives (text protocol).

Packet framing, length-encoded integers/strings, the handshake-v10 /
HandshakeResponse41 layouts, OK/EOF/ERR packets, ColumnDefinition41 and
text resultset rows — the subset a MySQL client needs to connect and run
queries. Mirrors the surface the reference exposes through Vitess's
mysql package (reference server/server.go:65, server/handler.go:346
ComQuery); the byte layouts themselves are the public MySQL
client/server protocol.
"""

from __future__ import annotations

import datetime
import decimal
import struct

from pyspark.sql import types as T

# -- capability flags (public protocol constants)
CLIENT_LONG_PASSWORD = 1 << 0
CLIENT_FOUND_ROWS = 1 << 1
CLIENT_LONG_FLAG = 1 << 2
CLIENT_CONNECT_WITH_DB = 1 << 3
CLIENT_PROTOCOL_41 = 1 << 9
CLIENT_TRANSACTIONS = 1 << 13
CLIENT_SECURE_CONNECTION = 1 << 15
CLIENT_MULTI_STATEMENTS = 1 << 16
CLIENT_MULTI_RESULTS = 1 << 17
CLIENT_PLUGIN_AUTH = 1 << 19
CLIENT_PLUGIN_AUTH_LENENC = 1 << 21
CLIENT_DEPRECATE_EOF = 1 << 24

SERVER_CAPABILITIES = (
    CLIENT_LONG_PASSWORD | CLIENT_FOUND_ROWS | CLIENT_LONG_FLAG
    | CLIENT_CONNECT_WITH_DB | CLIENT_PROTOCOL_41 | CLIENT_TRANSACTIONS
    | CLIENT_SECURE_CONNECTION | CLIENT_MULTI_STATEMENTS
    | CLIENT_MULTI_RESULTS | CLIENT_PLUGIN_AUTH)

SERVER_STATUS_AUTOCOMMIT = 0x0002
SERVER_MORE_RESULTS_EXISTS = 0x0008

# -- commands
COM_QUIT = 0x01
COM_INIT_DB = 0x02
COM_QUERY = 0x03
COM_FIELD_LIST = 0x04
COM_STATISTICS = 0x09
COM_PING = 0x0E
COM_STMT_PREPARE = 0x16
COM_STMT_EXECUTE = 0x17
COM_STMT_SEND_LONG_DATA = 0x18
COM_STMT_CLOSE = 0x19
COM_STMT_RESET = 0x1A
COM_RESET_CONNECTION = 0x1F

# -- column type codes (public protocol) and charset ids
MYSQL_TYPE_TINY = 0x01
MYSQL_TYPE_SHORT = 0x02
MYSQL_TYPE_LONG = 0x03
MYSQL_TYPE_FLOAT = 0x04
MYSQL_TYPE_DOUBLE = 0x05
MYSQL_TYPE_NULL = 0x06
MYSQL_TYPE_TIMESTAMP = 0x07
MYSQL_TYPE_LONGLONG = 0x08
MYSQL_TYPE_DATE = 0x0A
MYSQL_TYPE_TIME = 0x0B
MYSQL_TYPE_DATETIME = 0x0C
MYSQL_TYPE_JSON = 0xF5
MYSQL_TYPE_NEWDECIMAL = 0xF6
MYSQL_TYPE_BLOB = 0xFC
MYSQL_TYPE_VAR_STRING = 0xFD
MYSQL_TYPE_STRING = 0xFE

CHARSET_UTF8MB4 = 255  # utf8mb4_0900_ai_ci
CHARSET_BINARY = 63


def lenenc_int(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 1 << 16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 1 << 24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def read_lenenc_int(buf: bytes, pos: int) -> tuple[int, int]:
    first = buf[pos]
    if first < 0xFB:
        return first, pos + 1
    if first == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if first == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


def lenenc_bytes(b: bytes) -> bytes:
    return lenenc_int(len(b)) + b


def lenenc_str(s: str) -> bytes:
    return lenenc_bytes(s.encode("utf-8", "replace"))


def read_lenenc_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = read_lenenc_int(buf, pos)
    return buf[pos:pos + n], pos + n


def read_packet(sock) -> bytes | None:
    """Read one framed packet's payload (re-assembling 16 MB
    continuations); None on clean EOF."""
    payload = b""
    while True:
        hdr = _read_exact(sock, 4)
        if hdr is None:
            return None if not payload else payload
        n = int.from_bytes(hdr[:3], "little")
        part = _read_exact(sock, n)
        if part is None:
            return None
        payload += part
        if n < 0xFFFFFF:
            return payload


def _read_exact(sock, n: int) -> bytes | None:
    out = b""
    while len(out) < n:
        chunk = sock.recv(n - len(out))
        if not chunk:
            return None
        out += chunk
    return out


def frame(payload: bytes, seq: int) -> tuple[bytes, int]:
    """Payload framed as packet(s), split into 16 MB continuations;
    returns the framed bytes and the next sequence id."""
    out = bytearray()
    off = 0
    while True:
        chunk = payload[off:off + 0xFFFFFF]
        out += len(chunk).to_bytes(3, "little") + bytes([seq & 0xFF]) + chunk
        seq += 1
        off += len(chunk)
        if len(chunk) < 0xFFFFFF:
            return bytes(out), seq


def write_packet(sock, payload: bytes, seq: int) -> int:
    """Write payload as framed packet(s); returns the next sequence id."""
    data, seq = frame(payload, seq)
    sock.sendall(data)
    return seq


SEND_BYTES = 64 * 1024


def write_packets(sock, payloads, seq: int) -> int:
    """Frame a stream of payloads and send them with one `sendall` per
    at most SEND_BYTES (a larger packet goes alone) plus one at the end,
    instead of one per packet; returns the next sequence id."""
    buf = bytearray()
    for payload in payloads:
        data, seq = frame(payload, seq)
        if buf and len(buf) + len(data) > SEND_BYTES:
            sock.sendall(buf)
            buf.clear()
        buf += data
    if buf:
        sock.sendall(buf)
    return seq


def ok_packet(affected: int = 0, last_insert_id: int = 0,
              status: int = SERVER_STATUS_AUTOCOMMIT, warnings: int = 0,
              info: str = "") -> bytes:
    return (b"\x00" + lenenc_int(affected) + lenenc_int(last_insert_id)
            + struct.pack("<HH", status, warnings)
            + info.encode("utf-8", "replace"))


def eof_packet(status: int = SERVER_STATUS_AUTOCOMMIT,
               warnings: int = 0) -> bytes:
    return b"\xfe" + struct.pack("<HH", warnings, status)


def err_packet(errno: int, sqlstate: str, msg: str) -> bytes:
    return (b"\xff" + struct.pack("<H", errno) + b"#"
            + sqlstate.encode("ascii", "replace")[:5].ljust(5, b"0")
            + msg.encode("utf-8", "replace")[:512])


_UNSIGNED_FLAG = 0x20
_NOT_NULL_FLAG = 0x01
_BINARY_FLAG = 0x80


def spark_type_to_mysql(dt: T.DataType) -> tuple[int, int, int, int]:
    """(type_code, charset, display_length, flags) for a Spark type —
    the mapping the reference performs in rowToSQL / schemaToFields
    (server/handler.go resultForDefaultIter)."""
    if isinstance(dt, (T.ByteType, T.BooleanType)):
        return MYSQL_TYPE_TINY, CHARSET_BINARY, 4, 0
    if isinstance(dt, T.ShortType):
        return MYSQL_TYPE_SHORT, CHARSET_BINARY, 6, 0
    if isinstance(dt, T.IntegerType):
        return MYSQL_TYPE_LONG, CHARSET_BINARY, 11, 0
    if isinstance(dt, T.LongType):
        return MYSQL_TYPE_LONGLONG, CHARSET_BINARY, 20, 0
    if isinstance(dt, T.FloatType):
        return MYSQL_TYPE_FLOAT, CHARSET_BINARY, 12, 0
    if isinstance(dt, T.DoubleType):
        return MYSQL_TYPE_DOUBLE, CHARSET_BINARY, 22, 0
    if isinstance(dt, T.DecimalType):
        return MYSQL_TYPE_NEWDECIMAL, CHARSET_BINARY, dt.precision + 2, 0
    if isinstance(dt, T.DateType):
        return MYSQL_TYPE_DATE, CHARSET_BINARY, 10, _BINARY_FLAG
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return MYSQL_TYPE_DATETIME, CHARSET_BINARY, 26, _BINARY_FLAG
    if isinstance(dt, T.BinaryType):
        return MYSQL_TYPE_BLOB, CHARSET_BINARY, 65535, _BINARY_FLAG
    # strings, arrays, maps, structs → utf8 text
    return MYSQL_TYPE_VAR_STRING, CHARSET_UTF8MB4, 4 * 1024, 0


def column_definition(name: str, dt: T.DataType, nullable: bool = True,
                      table: str = "", schema: str = "") -> bytes:
    """ColumnDefinition41 packet payload."""
    type_code, charset, length, flags = spark_type_to_mysql(dt)
    if not nullable:
        flags |= _NOT_NULL_FLAG
    decimals = (dt.scale if isinstance(dt, T.DecimalType)
                else 31 if isinstance(dt, (T.FloatType, T.DoubleType))
                else 0)
    return (lenenc_str("def") + lenenc_str(schema) + lenenc_str(table)
            + lenenc_str(table) + lenenc_str(name) + lenenc_str(name)
            + b"\x0c" + struct.pack("<HIBHB", charset, length, type_code,
                                    flags, decimals) + b"\x00\x00")


def render_text_value(v) -> bytes | None:
    """A cell in MySQL's text resultset encoding (None → NULL marker is
    the caller's job)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return b"1" if v else b"0"
    if isinstance(v, (int, decimal.Decimal)):
        return str(v).encode()
    if isinstance(v, float):
        # MySQL prints shortest round-trip; repr() matches for doubles
        return repr(v).encode()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, datetime.datetime):
        s = v.strftime("%Y-%m-%d %H:%M:%S")
        if v.microsecond:
            s += ".%06d" % v.microsecond
        return s.encode()
    if isinstance(v, datetime.date):
        return v.isoformat().encode()
    if isinstance(v, (list, dict)):
        import json

        return json.dumps(v, default=str).encode()
    return str(v).encode()


def text_row(cells) -> bytes:
    out = bytearray()
    for c in cells:
        b = render_text_value(c)
        if b is None:
            out += b"\xfb"
        else:
            out += lenenc_bytes(b)
    return bytes(out)


# -- binary protocol (prepared statements; COM_STMT_EXECUTE resultsets).
# Byte layouts are the public MySQL binary resultset row / binary value
# encodings (the reference serves them through vitess's mysql package;
# server/handler.go:261 ComStmtExecute).

def _binary_datetime(v: datetime.datetime) -> bytes:
    if v.microsecond:
        return bytes([11]) + struct.pack(
            "<HBBBBBI", v.year, v.month, v.day, v.hour, v.minute,
            v.second, v.microsecond)
    return bytes([7]) + struct.pack(
        "<HBBBBB", v.year, v.month, v.day, v.hour, v.minute, v.second)


def binary_value(v, dt: T.DataType) -> bytes:
    """One non-NULL cell in a binary resultset row, encoded per the
    column's wire type (must agree with spark_type_to_mysql)."""
    if isinstance(dt, (T.ByteType, T.BooleanType)):
        return struct.pack("<b", int(v))
    if isinstance(dt, T.ShortType):
        return struct.pack("<h", int(v))
    if isinstance(dt, T.IntegerType):
        return struct.pack("<i", int(v))
    if isinstance(dt, T.LongType):
        return struct.pack("<q", int(v))
    if isinstance(dt, T.FloatType):
        return struct.pack("<f", float(v))
    if isinstance(dt, T.DoubleType):
        return struct.pack("<d", float(v))
    if isinstance(dt, T.DateType):
        return bytes([4]) + struct.pack("<HBB", v.year, v.month, v.day)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return _binary_datetime(v)
    return lenenc_bytes(render_text_value(v) or b"")


def binary_row(cells, schema) -> bytes:
    """Binary resultset row: 0x00 header, NULL bitmap (offset 2), then
    the non-NULL values in column order."""
    n = len(cells)
    bitmap = bytearray((n + 9) // 8)
    body = bytearray()
    for i, (v, f) in enumerate(zip(cells, schema.fields)):
        if v is None:
            bitmap[(i + 2) // 8] |= 1 << ((i + 2) % 8)
        else:
            body += binary_value(v, f.dataType)
    return b"\x00" + bytes(bitmap) + bytes(body)


def read_binary_value(buf: bytes, pos: int, type_code: int,
                      unsigned: bool = False):
    """Decode one bound parameter value from a COM_STMT_EXECUTE body.
    Returns (python_value, next_pos)."""
    if type_code == MYSQL_TYPE_NULL:
        return None, pos
    if type_code == MYSQL_TYPE_TINY:
        v = buf[pos] if unsigned else struct.unpack_from("<b", buf, pos)[0]
        return v, pos + 1
    if type_code == MYSQL_TYPE_SHORT:
        fmt = "<H" if unsigned else "<h"
        return struct.unpack_from(fmt, buf, pos)[0], pos + 2
    if type_code == MYSQL_TYPE_LONG:
        fmt = "<I" if unsigned else "<i"
        return struct.unpack_from(fmt, buf, pos)[0], pos + 4
    if type_code == MYSQL_TYPE_LONGLONG:
        fmt = "<Q" if unsigned else "<q"
        return struct.unpack_from(fmt, buf, pos)[0], pos + 8
    if type_code == MYSQL_TYPE_FLOAT:
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if type_code == MYSQL_TYPE_DOUBLE:
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if type_code in (MYSQL_TYPE_DATE, MYSQL_TYPE_DATETIME,
                     MYSQL_TYPE_TIMESTAMP):
        n = buf[pos]
        pos += 1
        if n == 0:
            v = datetime.date(1970, 1, 1) if type_code == MYSQL_TYPE_DATE \
                else datetime.datetime(1970, 1, 1)
            return v, pos
        y, mo, d = struct.unpack_from("<HBB", buf, pos)
        if n == 4:
            out = (datetime.date(y, mo, d)
                   if type_code == MYSQL_TYPE_DATE
                   else datetime.datetime(y, mo, d))
            return out, pos + n
        h, mi, s = struct.unpack_from("<BBB", buf, pos + 4)
        us = struct.unpack_from("<I", buf, pos + 7)[0] if n == 11 else 0
        return datetime.datetime(y, mo, d, h, mi, s, us), pos + n
    if type_code == MYSQL_TYPE_TIME:
        n = buf[pos]
        pos += 1
        if n == 0:
            return datetime.timedelta(0), pos
        neg = buf[pos]
        days = struct.unpack_from("<I", buf, pos + 1)[0]
        h, mi, s = struct.unpack_from("<BBB", buf, pos + 5)
        us = struct.unpack_from("<I", buf, pos + 8)[0] if n == 12 else 0
        td = datetime.timedelta(days=days, hours=h, minutes=mi,
                                seconds=s, microseconds=us)
        return -td if neg else td, pos + n
    # decimals, strings, blobs, JSON: length-encoded bytes
    b, pos = read_lenenc_bytes(buf, pos)
    if type_code == MYSQL_TYPE_NEWDECIMAL:
        return decimal.Decimal(b.decode("ascii")), pos
    if type_code == MYSQL_TYPE_BLOB:
        return bytes(b), pos
    return b.decode("utf-8", "replace"), pos
