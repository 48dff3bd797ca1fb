"""Minimal pure-Python MySQL wire client (text + binary protocols).

Exists so the wire server can be exercised end-to-end without external
client libraries (the reference tests its server through go-sql-driver;
enginetest/server_test.go) — and doubles as a tiny programmatic client
for anyone embedding the server. Speaks handshake-v10, COM_QUERY (with
CLIENT_MULTI_STATEMENTS chained resultsets) and the binary
prepared-statement protocol (COM_STMT_PREPARE / EXECUTE / CLOSE).
"""

from __future__ import annotations

import datetime
import socket
import struct

from . import protocol as p


class MySQLClientError(Exception):
    def __init__(self, errno: int, sqlstate: str, msg: str):
        super().__init__(f"({errno}, {sqlstate}): {msg}")
        self.errno, self.sqlstate = errno, sqlstate


class ResultSet:
    def __init__(self, columns: list[str], rows: list[tuple],
                 status: int = 0):
        self.columns = columns
        self.rows = rows
        self.status = status


class OkStatus:
    def __init__(self, affected: int, last_insert_id: int, info: str,
                 status: int = 0):
        self.affected = affected
        self.last_insert_id = last_insert_id
        self.info = info
        self.status = status


class Prepared:
    def __init__(self, stmt_id: int, nparams: int):
        self.stmt_id = stmt_id
        self.nparams = nparams


class Client:
    CAPS = (p.CLIENT_PROTOCOL_41 | p.CLIENT_SECURE_CONNECTION
            | p.CLIENT_PLUGIN_AUTH | p.CLIENT_CONNECT_WITH_DB
            | p.CLIENT_MULTI_STATEMENTS | p.CLIENT_MULTI_RESULTS)

    def __init__(self, host: str, port: int, user: str = "root",
                 database: str = "", timeout: float = 30.0):
        self.sock = socket.create_connection((host, port), timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        greeting = p.read_packet(self.sock)
        if greeting is None or greeting[0] != 0x0A:
            raise MySQLClientError(2013, "HY000", "bad greeting")
        self.server_version = greeting[1:greeting.index(b"\x00", 1)].decode()
        caps = self.CAPS if database else (
            self.CAPS & ~p.CLIENT_CONNECT_WITH_DB)
        resp = (struct.pack("<IIB", caps, 1 << 24, p.CHARSET_UTF8MB4)
                + b"\x00" * 23 + user.encode() + b"\x00"
                + b"\x00")  # empty auth response (1-byte length 0)
        if database:
            resp += database.encode() + b"\x00"
        resp += b"mysql_native_password\x00"
        p.write_packet(self.sock, resp, 1)
        self._expect_ok(p.read_packet(self.sock))

    def _expect_ok(self, pkt: bytes | None) -> OkStatus:
        if pkt is None:
            raise MySQLClientError(2013, "HY000", "connection closed")
        if pkt[0] == 0xFF:
            errno = struct.unpack_from("<H", pkt, 1)[0]
            raise MySQLClientError(
                errno, pkt[4:9].decode("ascii", "replace"),
                pkt[9:].decode("utf-8", "replace"))
        if pkt[0] != 0x00 and pkt[0] != 0xFE:
            raise MySQLClientError(2027, "HY000", f"bad packet {pkt[:1]!r}")
        affected, pos = p.read_lenenc_int(pkt, 1)
        last_id, pos = p.read_lenenc_int(pkt, pos)
        status = struct.unpack_from("<H", pkt, pos)[0] \
            if pos + 2 <= len(pkt) else 0
        info = pkt[pos + 4:].decode("utf-8", "replace")
        return OkStatus(affected, last_id, info, status)

    def _read_columns(self, ncols: int) -> tuple[list[str], list[int]]:
        """Read ncols ColumnDefinition41 packets + the trailing EOF;
        returns (names, wire type codes)."""
        columns, types = [], []
        for _ in range(ncols):
            cd = p.read_packet(self.sock)
            pos = 0
            vals = []
            for _f in range(6):  # catalog schema table org_table name org
                v, pos = p.read_lenenc_bytes(cd, pos)
                vals.append(v)
            columns.append(vals[4].decode("utf-8", "replace"))
            # fixed-length tail: filler(1) charset(2) length(4) type(1)
            types.append(cd[pos + 7])
        self._read_eof()
        return columns, types

    def _read_one_result(self, first: bytes) -> ResultSet | OkStatus:
        if first[0] in (0x00, 0xFF):
            return self._expect_ok(first)
        ncols, _ = p.read_lenenc_int(first, 0)
        columns, _types = self._read_columns(ncols)
        rows: list[tuple] = []
        status = 0
        while True:
            pkt = p.read_packet(self.sock)
            if pkt is None:
                raise MySQLClientError(2013, "HY000", "mid-resultset EOF")
            if pkt[0] == 0xFE and len(pkt) < 9:
                status = struct.unpack_from("<H", pkt, 3)[0]
                break
            if pkt[0] == 0xFF:
                self._expect_ok(pkt)
            cells, pos = [], 0
            while pos < len(pkt):
                if pkt[pos] == 0xFB:
                    cells.append(None)
                    pos += 1
                else:
                    v, pos = p.read_lenenc_bytes(pkt, pos)
                    cells.append(v.decode("utf-8", "replace"))
            rows.append(tuple(cells))
        return ResultSet(columns, rows, status)

    def query(self, sql: str) -> ResultSet | OkStatus:
        p.write_packet(self.sock, bytes([p.COM_QUERY]) + sql.encode(), 0)
        first = p.read_packet(self.sock)
        if first is None:
            raise MySQLClientError(2013, "HY000", "connection closed")
        if first[:1] == b"\xfb":
            # LOCAL INFILE request: the server names the file; stream its
            # bytes and terminate with an empty packet, then read the
            # final OK/ERR (MySQL client protocol local-infile handshake)
            fname = first[1:].decode("utf-8", "replace")
            seq = 2
            try:
                with open(fname, "rb") as fh:
                    while True:
                        chunk = fh.read(1 << 20)
                        if not chunk:
                            break
                        seq = p.write_packet(self.sock, chunk, seq)
            except OSError:
                pass  # empty stream → server loads zero rows / errors
            p.write_packet(self.sock, b"", seq)
            final = p.read_packet(self.sock)
            if final is None:
                raise MySQLClientError(2013, "HY000", "connection closed")
            return self._read_one_result(final)
        return self._read_one_result(first)

    def multi_query(self, sql: str) -> list[ResultSet | OkStatus]:
        """Send several ';'-separated statements in ONE COM_QUERY packet;
        returns one result per statement (SERVER_MORE_RESULTS_EXISTS
        chaining)."""
        p.write_packet(self.sock, bytes([p.COM_QUERY]) + sql.encode(), 0)
        out: list[ResultSet | OkStatus] = []
        while True:
            first = p.read_packet(self.sock)
            if first is None:
                raise MySQLClientError(2013, "HY000", "connection closed")
            res = self._read_one_result(first)
            out.append(res)
            if not (res.status & p.SERVER_MORE_RESULTS_EXISTS):
                return out

    # -- binary prepared-statement protocol

    def prepare(self, sql: str) -> Prepared:
        p.write_packet(self.sock,
                       bytes([p.COM_STMT_PREPARE]) + sql.encode(), 0)
        head = p.read_packet(self.sock)
        if head is None:
            raise MySQLClientError(2013, "HY000", "connection closed")
        if head[0] == 0xFF:
            self._expect_ok(head)
        stmt_id = struct.unpack_from("<I", head, 1)[0]
        ncols = struct.unpack_from("<H", head, 5)[0]
        nparams = struct.unpack_from("<H", head, 7)[0]
        if nparams:
            self._read_columns(nparams)
        if ncols:
            self._read_columns(ncols)
        return Prepared(stmt_id, nparams)

    @staticmethod
    def _encode_param(v) -> tuple[int, bytes]:
        """(wire type code, binary value bytes) for one parameter."""
        if v is None:
            return p.MYSQL_TYPE_NULL, b""
        if isinstance(v, bool):
            return p.MYSQL_TYPE_TINY, struct.pack("<b", int(v))
        if isinstance(v, int):
            return p.MYSQL_TYPE_LONGLONG, struct.pack("<q", v)
        if isinstance(v, float):
            return p.MYSQL_TYPE_DOUBLE, struct.pack("<d", v)
        if isinstance(v, datetime.datetime):
            return p.MYSQL_TYPE_DATETIME, p._binary_datetime(v)
        if isinstance(v, datetime.date):
            return p.MYSQL_TYPE_DATE, bytes([4]) + struct.pack(
                "<HBB", v.year, v.month, v.day)
        if isinstance(v, (bytes, bytearray)):
            return p.MYSQL_TYPE_BLOB, p.lenenc_bytes(bytes(v))
        return p.MYSQL_TYPE_VAR_STRING, p.lenenc_str(str(v))

    def execute(self, prep: Prepared, params=()) \
            -> ResultSet | OkStatus:
        """COM_STMT_EXECUTE with typed binary parameter values; a SELECT
        comes back as a binary resultset, decoded per column type."""
        if len(params) != prep.nparams:
            raise MySQLClientError(
                2057, "HY000",
                f"statement wants {prep.nparams} params, got {len(params)}")
        body = bytearray(bytes([p.COM_STMT_EXECUTE])
                         + struct.pack("<I", prep.stmt_id)
                         + b"\x00" + struct.pack("<I", 1))
        if prep.nparams:
            bitmap = bytearray((prep.nparams + 7) // 8)
            types = bytearray()
            values = bytearray()
            for i, v in enumerate(params):
                tcode, enc = self._encode_param(v)
                if v is None:
                    bitmap[i // 8] |= 1 << (i % 8)
                types += bytes([tcode, 0])
                values += enc
            body += bytes(bitmap) + b"\x01" + bytes(types) + bytes(values)
        p.write_packet(self.sock, bytes(body), 0)
        first = p.read_packet(self.sock)
        if first is None:
            raise MySQLClientError(2013, "HY000", "connection closed")
        if first[0] in (0x00, 0xFF):
            return self._expect_ok(first)
        ncols, _ = p.read_lenenc_int(first, 0)
        columns, types = self._read_columns(ncols)
        rows: list[tuple] = []
        while True:
            pkt = p.read_packet(self.sock)
            if pkt is None:
                raise MySQLClientError(2013, "HY000", "mid-resultset EOF")
            if pkt[0] == 0xFE and len(pkt) < 9:
                break
            if pkt[0] == 0xFF:
                self._expect_ok(pkt)
            nullmap = pkt[1:1 + (ncols + 9) // 8]
            pos = 1 + (ncols + 9) // 8
            cells = []
            for i in range(ncols):
                if nullmap[(i + 2) // 8] & (1 << ((i + 2) % 8)):
                    cells.append(None)
                    continue
                v, pos = p.read_binary_value(pkt, pos, types[i])
                cells.append(v)
            rows.append(tuple(cells))
        return ResultSet(columns, rows)

    def stmt_close(self, prep: Prepared) -> None:
        p.write_packet(self.sock, bytes([p.COM_STMT_CLOSE])
                       + struct.pack("<I", prep.stmt_id), 0)

    def _read_eof(self) -> None:
        pkt = p.read_packet(self.sock)
        if pkt is None or pkt[0] != 0xFE:
            raise MySQLClientError(2027, "HY000", "expected EOF")

    def ping(self) -> bool:
        p.write_packet(self.sock, bytes([p.COM_PING]), 0)
        self._expect_ok(p.read_packet(self.sock))
        return True

    def select_db(self, database: str) -> None:
        p.write_packet(
            self.sock, bytes([p.COM_INIT_DB]) + database.encode(), 0)
        self._expect_ok(p.read_packet(self.sock))

    def close(self) -> None:
        try:
            p.write_packet(self.sock, bytes([p.COM_QUIT]), 0)
        except OSError:
            pass
        self.sock.close()
