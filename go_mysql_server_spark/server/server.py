"""MySQL wire-protocol server front for the Engine.

A user of the reference embeds its engine behind a TCP front that any
MySQL client can dial (reference server/server.go:65 NewServer,
server/handler.go:346 ComQuery, :114 ComInitDB); this is the same
surface over the Spark-backed Engine: handshake-v10 + auth acceptance,
then the command phase — text COM_QUERY (with CLIENT_MULTI_STATEMENTS
chaining, reference server/handler.go:337 ComMultiQuery) and the binary
prepared-statement protocol (COM_STMT_PREPARE / EXECUTE / CLOSE /
RESET, reference server/handler.go:126 ComPrepare, :261 ComStmtExecute).

Execution model: one shared Engine (the catalog is server-global, as in
the reference), whose statement lock serializes statements — Spark drives
the actual parallelism inside each statement across its executors, so
concurrent protocol connections interleave statements rather than
threads. Each connection owns one engine `Session` (current database,
@vars, system variables incl. sql_mode, LAST_INSERT_ID, prepared
statements, the open transaction) and passes it with every statement —
the reference builds a sql.Session per connection the same way
(server/context.go:50 SessionManager, :74 NewSessionManager). Only the
binary protocol's statement table lives here.

Resultsets reach the socket holding at most one result partition on the
driver at a time — the analogue of the reference's pull-based RowIter →
packet writer (server/handler.go:407 doQuery result callback), and the
property that keeps `SELECT *` over a large table from becoming a driver
OOM. The fetch strategy follows the partition count of the statement's
final RDD, observed at run time: a result of at most one partition is
fetched with one `collect()` job; a larger one streams partition by
partition through `DataFrame.toLocalIterator()`.
"""

from __future__ import annotations

import itertools
import os
import re
import socket
import socketserver
import struct
import threading

from ..dbapi import _bind
from ..engine import Engine, OkResult, Session, SqlError
from . import protocol as p


def _result_rows(df):
    """The rows of a SELECT's DataFrame, holding at most one result
    partition on the driver at a time.

    The partition count comes from the statement's own QueryExecution:
    under AQE, `toRdd` runs the shuffle stages once and the action that
    follows reuses them. A result of at most one partition is fetched
    with `collect()` — one job, the same Row objects; a larger one
    streams with `toLocalIterator()`, one job per partition (Shark's
    partial DAG execution: choose from what run time shows, not from a
    constant)."""
    if df._jdf.queryExecution().toRdd().getNumPartitions() <= 1:
        return df.collect()
    return df.toLocalIterator()


class MySQLServer:
    """Serve `engine` on host:port. Start with .start() (daemon threads),
    stop with .close(). Port 0 picks an ephemeral port (see .port)."""

    def __init__(self, engine: Engine, host: str = "127.0.0.1",
                 port: int = 3306, server_version: str =
                 "8.0.33-go-mysql-server-spark"):
        self.engine = engine
        self.server_version = server_version
        outer = self

        class _Handler(socketserver.BaseRequestHandler):
            def handle(self):  # noqa: D401
                outer._serve_connection(self.request)

        class _Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._tcp = _Server((host, port), _Handler)
        self.host, self.port = self._tcp.server_address[:2]
        self._thread: threading.Thread | None = None

    # -- lifecycle (reference server/server.go:220 Start, :239 Close)

    def start(self) -> "MySQLServer":
        self._thread = threading.Thread(
            target=self._tcp.serve_forever, kwargs={"poll_interval": 0.05},
            daemon=True, name=f"mysql-server-{self.port}")
        self._thread.start()
        return self

    def close(self) -> None:
        self._tcp.shutdown()
        self._tcp.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    # -- connection phase

    def _serve_connection(self, sock: socket.socket) -> None:
        sock.settimeout(300)
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        sess = self.engine.new_session()
        try:
            client_caps = self._handshake(sock, sess)
            if client_caps is None:
                return
            self._command_loop(sock, client_caps, sess)
        except (OSError, ValueError, IndexError, struct.error):
            pass  # client went away / malformed frame: drop the conn
        finally:
            try:
                sock.close()
            except OSError:
                pass

    def _handshake(self, sock, sess: Session) -> int | None:
        salt = os.urandom(20).replace(b"\x00", b"\x01")
        greeting = (
            b"\x0a" + self.server_version.encode() + b"\x00"
            + struct.pack("<I", sess.id) + salt[:8] + b"\x00"
            + struct.pack("<H", p.SERVER_CAPABILITIES & 0xFFFF)
            + bytes([p.CHARSET_UTF8MB4])
            + struct.pack("<H", p.SERVER_STATUS_AUTOCOMMIT)
            + struct.pack("<H", p.SERVER_CAPABILITIES >> 16)
            + bytes([21]) + b"\x00" * 10 + salt[8:20] + b"\x00"
            + b"mysql_native_password\x00")
        seq = p.write_packet(sock, greeting, 0)
        resp = p.read_packet(sock)
        if resp is None or len(resp) < 32:
            return None
        caps = struct.unpack_from("<I", resp, 0)[0]
        # the username starts after caps(4) + max-packet(4) + charset(1) +
        # 23 reserved bytes; auth is accepted for any credentials (the
        # reference delegates to a pluggable authenticator — the default
        # test server accepts all; server/server_config.go)
        pos = resp.index(b"\x00", 32) + 1
        if caps & p.CLIENT_PLUGIN_AUTH_LENENC:
            _auth, pos = p.read_lenenc_bytes(resp, pos)
        elif caps & p.CLIENT_SECURE_CONNECTION:
            n = resp[pos]
            pos += 1 + n
        else:
            pos = resp.index(b"\x00", pos) + 1
        if caps & p.CLIENT_CONNECT_WITH_DB and pos < len(resp):
            end = resp.index(b"\x00", pos)
            db = resp[pos:end].decode("utf-8", "replace")
            if db:
                try:
                    self.engine.query(f"USE `{db}`", sess)
                except SqlError:
                    p.write_packet(sock, p.err_packet(
                        1049, "42000", f"Unknown database '{db}'"), seq)
                    return None
        p.write_packet(sock, p.ok_packet(), seq)
        return caps

    # -- command phase

    def _command_loop(self, sock, caps: int, sess: Session) -> None:
        stmts: dict[int, list] = {}  # COM_STMT id → [sql, nparams, types]
        stmt_ids = itertools.count(1)  # never reused on this connection
        while True:
            pkt = p.read_packet(sock)
            if pkt is None or not pkt:
                return
            cmd, body = pkt[0], pkt[1:]
            if cmd == p.COM_QUIT:
                return
            if cmd == p.COM_PING:
                p.write_packet(sock, p.ok_packet(), 1)
            elif cmd == p.COM_INIT_DB:
                self._run_and_reply(
                    sock, sess,
                    "USE `%s`" % body.decode("utf-8", "replace"))
            elif cmd == p.COM_QUERY:
                sql = body.decode("utf-8", "replace")
                lm = re.match(r"\s*LOAD\s+DATA\s+LOCAL\s+INFILE\s+"
                              r"'([^']+)'", sql, re.I)
                if lm:
                    self._local_infile(sock, sess, sql, lm.group(1))
                elif caps & p.CLIENT_MULTI_STATEMENTS:
                    self._multi_query(sock, sess, sql)
                else:
                    self._run_and_reply(sock, sess, sql)
            elif cmd == p.COM_STMT_PREPARE:
                self._stmt_prepare(sock, stmts, next(stmt_ids),
                                   body.decode("utf-8", "replace"))
            elif cmd == p.COM_STMT_EXECUTE:
                self._stmt_execute(sock, sess, stmts, body)
            elif cmd == p.COM_STMT_CLOSE:
                # no response packet, per protocol
                stmts.pop(struct.unpack_from("<I", body, 0)[0], None)
            elif cmd == p.COM_STMT_RESET:
                p.write_packet(sock, p.ok_packet(), 1)
            elif cmd == p.COM_STATISTICS:
                p.write_packet(sock, b"Uptime: 0  Threads: 1", 1)
            elif cmd == p.COM_RESET_CONNECTION:
                # as MySQL: roll back, then a new session's state with the
                # same id and database, and no prepared statements
                reply = p.ok_packet()
                if sess.in_txn:
                    try:
                        self.engine.query("ROLLBACK", sess)
                    except SqlError as exc:
                        reply = p.err_packet(exc.errno, exc.sqlstate,
                                             str(exc))
                sess.reset()
                stmts.clear()
                p.write_packet(sock, reply, 1)
            elif cmd == p.COM_FIELD_LIST:
                # deprecated in MySQL 8; empty terminator is sufficient
                p.write_packet(sock, p.eof_packet(), 1)
            else:
                p.write_packet(sock, p.err_packet(
                    1047, "08S01", f"Unknown command {cmd:#x}"), 1)

    # -- text protocol

    def _local_infile(self, sock, sess: Session, sql: str,
                      fname: str) -> None:
        """LOAD DATA LOCAL INFILE: the server answers COM_QUERY with a
        0xFB LOCAL INFILE request naming the file; the CLIENT streams the
        file's bytes as packets terminated by an empty packet; the server
        loads the received bytes and replies OK/ERR (reference
        server/handler.go ComQuery local-infile callback path). The bytes
        spool to a server-side temp file and run through the engine's
        regular LOAD DATA INFILE plan."""
        import tempfile

        p.write_packet(sock, b"\xfb" + fname.encode("utf-8"), 1)
        data = bytearray()
        while True:
            pkt = p.read_packet(sock)
            if pkt is None:
                return  # client vanished mid-stream
            if not pkt:
                break  # empty packet terminates the stream
            data += pkt
        tmp = tempfile.NamedTemporaryFile(
            prefix="local_infile_", suffix=".csv", delete=False)
        try:
            tmp.write(bytes(data))
            tmp.close()
            rewritten = re.sub(
                r"\bLOCAL\s+INFILE\s+'[^']*'",
                "INFILE '" + tmp.name.replace("\\", "/") + "'",
                sql, count=1, flags=re.I)
            self._run_and_reply(sock, sess, rewritten)
        finally:
            try:
                os.unlink(tmp.name)
            except OSError:
                pass

    def _multi_query(self, sock, sess: Session, sql: str) -> None:
        """CLIENT_MULTI_STATEMENTS: split on top-level semicolons
        (literal-masked) and chain the resultsets with
        SERVER_MORE_RESULTS_EXISTS (reference server/handler.go:337
        ComMultiQuery)."""
        from ..procedures import split_statements

        stmts = [s for s in split_statements(sql) if s.strip()]
        if not stmts:
            p.write_packet(sock, p.ok_packet(), 1)
            return
        for i, stmt in enumerate(stmts):
            more = (p.SERVER_MORE_RESULTS_EXISTS
                    if i + 1 < len(stmts) else 0)
            ok = self._run_and_reply(sock, sess, stmt, status_extra=more)
            if not ok:
                return  # an ERR terminates the chain, as in MySQL

    def _run_and_reply(self, sock, sess: Session, sql: str,
                       status_extra: int = 0, binary: bool = False) -> bool:
        """Execute and write one resultset / OK / ERR, as a text
        resultset or, for COM_STMT_EXECUTE, a binary one. Returns False on
        error (for multi-statement chain termination)."""
        try:
            res = self.engine.query(sql, sess)
            if not isinstance(res, OkResult):
                rows = _result_rows(res)
        except SqlError as exc:
            p.write_packet(sock, p.err_packet(
                exc.errno, exc.sqlstate, str(exc)), 1)
            return False
        except Exception as exc:  # noqa: BLE001 — engine-internal error
            p.write_packet(sock, p.err_packet(
                1105, "HY000", str(exc)[:500]), 1)
            return False
        status = p.SERVER_STATUS_AUTOCOMMIT | status_extra
        if isinstance(res, OkResult):
            p.write_packet(sock, p.ok_packet(
                res.rows_affected, res.last_insert_id or 0,
                status=status, info=res.info), 1)
            return True
        schema = res.schema
        encode_row = ((lambda cells: p.binary_row(cells, schema)) if binary
                      else p.text_row)
        self._write_resultset(sock, schema, rows, encode_row,
                              p.eof_packet(status=status))
        return True

    @staticmethod
    def _write_resultset(sock, schema, rows, encode_row,
                         eof: bytes) -> None:
        """Column count, column definitions, EOF, one packet per row,
        then `eof` — buffered into a few `sendall` calls."""
        def packets():
            yield p.lenenc_int(len(schema.fields))
            for f in schema.fields:
                yield p.column_definition(f.name, f.dataType, f.nullable)
            yield p.eof_packet()
            for r in rows:
                yield encode_row(tuple(r))
            yield eof

        p.write_packets(sock, packets(), 1)

    # -- binary prepared-statement protocol
    # (reference server/handler.go:126 ComPrepare, :261 ComStmtExecute)

    def _stmt_prepare(self, sock, stmts: dict, stmt_id: int,
                      sql: str) -> None:
        from ..dialect.transpiler import mask_literals

        masked, _ = mask_literals(sql)
        nparams = masked.count("?")
        stmts[stmt_id] = [sql, nparams, []]
        # COM_STMT_PREPARE_OK: status, stmt_id, num_columns (0 — the
        # result schema is delivered with each execute, which every
        # binary-capable client accepts), num_params, filler, warnings
        head = (b"\x00" + struct.pack("<I", stmt_id)
                + struct.pack("<H", 0) + struct.pack("<H", nparams)
                + b"\x00" + struct.pack("<H", 0))
        seq = p.write_packet(sock, head, 1)
        if nparams:
            from pyspark.sql import types as T
            for i in range(nparams):
                seq = p.write_packet(sock, p.column_definition(
                    f"?{i}", T.StringType()), seq)
            p.write_packet(sock, p.eof_packet(), seq)

    def _stmt_execute(self, sock, sess: Session, stmts: dict,
                      body: bytes) -> None:
        stmt_id = struct.unpack_from("<I", body, 0)[0]
        if stmt_id not in stmts:
            p.write_packet(sock, p.err_packet(
                1243, "HY000", f"Unknown prepared statement ({stmt_id})"),
                1)
            return
        sql, nparams, types = stmts[stmt_id]
        pos = 4 + 1 + 4  # stmt_id + flags + iteration_count
        params: list = []
        if nparams:
            nullmap = body[pos:pos + (nparams + 7) // 8]
            pos += (nparams + 7) // 8
            new_bound = body[pos]
            pos += 1
            if new_bound:  # else a re-execute reuses the last types
                types[:] = [(body[q], bool(body[q + 1] & 0x80))
                            for q in range(pos, pos + 2 * nparams, 2)]
                pos += 2 * nparams
            for i in range(nparams):
                if nullmap[i // 8] & (1 << (i % 8)):
                    params.append(None)
                    continue
                tcode, unsigned = types[i]
                v, pos = p.read_binary_value(body, pos, tcode, unsigned)
                params.append(v)
        bound = _bind(sql, params) if nparams else sql  # DB-API's binding
        self._run_and_reply(sock, sess, bound, binary=True)
