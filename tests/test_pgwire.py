"""pgwire.py — the real socket transport behind the Postgres COPY
seam.  A scripted in-memory server (socketpair) drives the full v3
message flow: md5 and SCRAM-SHA-256 auth dances byte-for-byte, the
COPY-in sub-protocol, error surfacing, and the transport contract the
fake-transport suite (test_postgres_copy.py) pins — plus an env-gated
live round trip (SCRATCHDATA_POSTGRES_URL) in the pattern of the
ClickHouse/Postgres JDBC live skips."""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import socket
import struct
import threading

import pytest

from scratchdata_spark.pgwire import (
    PGWireConnection,
    PGWireError,
    SocketCopyTransport,
)


def _msg(t: bytes, payload: bytes) -> bytes:
    return t + struct.pack(">I", len(payload) + 4) + payload


READY = _msg(b"Z", b"I")
AUTH_OK = _msg(b"R", struct.pack(">I", 0))


class ScriptedServer:
    """Reads real frontend messages off one end of a socketpair and
    answers from a script; records everything it saw."""

    def __init__(self):
        self.client_end, self.server_end = socket.socketpair()
        self.seen: list[tuple[str, bytes]] = []
        self.copy_rows: list[bytes] = []
        self._buf = b""

    def sock_factory(self):
        return self.client_end

    # ------------------------------------------------------ raw io
    def _recv(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self.server_end.recv(65536)
            if not chunk:
                raise EOFError
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def read_startup(self) -> bytes:
        (length,) = struct.unpack(">I", self._recv(4))
        return self._recv(length - 4)

    def read_msg(self) -> tuple[str, bytes]:
        head = self._recv(5)
        (length,) = struct.unpack(">I", head[1:5])
        payload = self._recv(length - 4)
        m = (chr(head[0]), payload)
        self.seen.append(m)
        return m

    def send(self, data: bytes) -> None:
        self.server_end.sendall(data)

    # ------------------------------------------------- canned flows
    def serve_simple_session(self, auth: str = "trust", password="pw",
                             user="u"):
        """Auth + answer every Query with CommandComplete(first word)
        + ReadyForQuery; enter COPY mode on COPY statements and
        record CopyData payloads until CopyDone/CopyFail."""
        self.read_startup()
        if auth == "trust":
            self.send(AUTH_OK)
        elif auth == "md5":
            salt = b"SaLt"
            self.send(_msg(b"R", struct.pack(">I", 5) + salt))
            t, payload = self.read_msg()
            assert t == "p"
            inner = hashlib.md5(
                password.encode() + user.encode()
            ).hexdigest()
            want = b"md5" + hashlib.md5(
                inner.encode() + salt
            ).hexdigest().encode()
            assert payload.rstrip(b"\x00") == want, "md5 digest mismatch"
            self.send(AUTH_OK)
        elif auth == "scram":
            self._scram_server(password)
        self.send(READY)
        while True:
            try:
                t, payload = self.read_msg()
            except EOFError:
                return
            if t == "X":
                return
            if t != "Q":
                continue
            sql = payload.rstrip(b"\x00").decode()
            if sql.upper().startswith("COPY"):
                # CopyInResponse: text format, 0 columns declared
                self.send(_msg(b"G", b"\x00" + struct.pack(">h", 0)))
                n = 0
                while True:
                    t2, p2 = self.read_msg()
                    if t2 == "d":
                        self.copy_rows.append(p2)
                        n += 1
                    elif t2 in ("c", "f"):
                        break
                self.send(_msg(b"C", f"COPY {n}".encode() + b"\x00"))
                self.send(READY)
            else:
                tag = sql.split()[0].upper()
                self.send(_msg(b"C", tag.encode() + b"\x00"))
                self.send(READY)

    def _scram_server(self, password: str):
        self.send(
            _msg(b"R", struct.pack(">I", 10) + b"SCRAM-SHA-256\x00\x00")
        )
        t, payload = self.read_msg()
        assert t == "p"
        # SASLInitialResponse: mech cstring + int32 + client-first
        mech, rest = payload.split(b"\x00", 1)
        assert mech == b"SCRAM-SHA-256"
        (ln,) = struct.unpack(">i", rest[:4])
        client_first = rest[4 : 4 + ln].decode()
        assert client_first.startswith("n,,n=,r=")
        first_bare = client_first[3:]
        cnonce = first_bare.split("r=", 1)[1]
        snonce = cnonce + "SrV"
        salt = b"0123456789abcdef"
        iters = 4096
        server_first = (
            f"r={snonce},s={base64.b64encode(salt).decode()},i={iters}"
        )
        self.send(
            _msg(b"R", struct.pack(">I", 11) + server_first.encode())
        )
        t, payload = self.read_msg()
        assert t == "p"
        client_final = payload.decode()
        wo_proof, proof_b64 = client_final.rsplit(",p=", 1)
        assert wo_proof == f"c=biws,r={snonce}"
        salted = hashlib.pbkdf2_hmac(
            "sha256", password.encode(), salt, iters
        )
        ck = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        sk = hashlib.sha256(ck).digest()
        auth_msg = ",".join([first_bare, server_first, wo_proof])
        sig = hmac.new(sk, auth_msg.encode(), hashlib.sha256).digest()
        want = bytes(a ^ b for a, b in zip(ck, sig))
        assert base64.b64decode(proof_b64) == want, "SCRAM proof mismatch"
        server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        v = hmac.new(server_key, auth_msg.encode(), hashlib.sha256).digest()
        self.send(
            _msg(b"R", struct.pack(">I", 12)
                 + b"v=" + base64.b64encode(v))
        )
        self.send(AUTH_OK)


def _connected(auth: str, password="pw") -> tuple[ScriptedServer, PGWireConnection, threading.Thread]:
    srv = ScriptedServer()
    th = threading.Thread(
        target=srv.serve_simple_session, kwargs={"auth": auth,
                                                 "password": password},
        daemon=True,
    )
    th.start()
    conn = PGWireConnection(
        "scripted", 5432, user="u", password=password, database="db",
        sock_factory=srv.sock_factory,
    ).connect()
    return srv, conn, th


@pytest.mark.parametrize("auth", ["trust", "md5", "scram"])
def test_auth_dances_and_simple_query(auth):
    srv, conn, th = _connected(auth)
    assert conn.simple_query("BEGIN") == "BEGIN"
    assert conn.simple_query("COMMIT") == "COMMIT"
    conn.close()
    th.join(timeout=5)
    sqls = [p.rstrip(b"\x00").decode() for t, p in srv.seen if t == "Q"]
    assert sqls == ["BEGIN", "COMMIT"]


def test_error_response_raises():
    srv = ScriptedServer()

    def serve():
        srv.read_startup()
        fields = b"SFATAL\x00C28P01\x00Mpassword authentication failed\x00\x00"
        srv.send(_msg(b"E", fields))

    th = threading.Thread(target=serve, daemon=True)
    th.start()
    with pytest.raises(PGWireError, match="28P01.*password authentication"):
        PGWireConnection(
            "scripted", 5432, user="u", password="bad",
            sock_factory=srv.sock_factory,
        ).connect()
    th.join(timeout=5)


def test_copy_destination_over_socket_transport(spark, tmp_path):
    """End-to-end: PostgresCopyDestination drives the REAL transport;
    the scripted server must see BEGIN → COPY … FROM STDIN →
    CopyData per row → CopyDone → COMMIT, with the exact frame
    payloads the fake-transport suite pins."""
    from scratchdata_spark.postgres_destination import (
        PostgresCopyDestination,
        encode_copy_text_row,
    )

    srv, conn, th = _connected("scram")
    p = tmp_path / "rows.ndjson"
    p.write_text(
        '{"a": 1, "b": "x\\ty"}\n'
        '{"b": "z", "a": null, "extra": 9}\n'
    )
    dest = PostgresCopyDestination(
        spark, "jdbc:postgresql://scripted/db",
        copy_transport=SocketCopyTransport(conn),
        user="u", password="pw",
    )
    # the scripted server speaks only the COPY session: the JDBC DDL
    # seams of insert_ndjson's table and column steps answer locally
    dest._execute = lambda sql: None
    dest.columns = lambda table: []
    dest.insert_ndjson("t1", str(p))
    conn.close()
    th.join(timeout=5)
    sqls = [pl.rstrip(b"\x00").decode() for t, pl in srv.seen if t == "Q"]
    assert sqls[0] == "BEGIN"
    assert sqls[1] == 'COPY "public"."t1" ("a", "b") FROM STDIN'
    assert sqls[2] == "COMMIT"
    assert srv.copy_rows == [
        encode_copy_text_row(["1", "x\ty"]),
        encode_copy_text_row(["", "z"]),
    ]


def test_rollback_sends_copyfail():
    srv, conn, th = _connected("trust")
    tr = SocketCopyTransport(conn)
    tr.begin()
    tr.start_copy('COPY "public"."t" ("a") FROM STDIN')
    tr.send(b"d" + struct.pack(">I", 6) + b"1\n")
    tr.rollback()
    conn.close()
    th.join(timeout=5)
    kinds = [t for t, _ in srv.seen]
    assert "f" in kinds  # CopyFail aborted the sub-protocol
    sqls = [pl.rstrip(b"\x00").decode() for t, pl in srv.seen if t == "Q"]
    assert sqls[-1] == "ROLLBACK"


def test_tcp_connection_disables_nagle():
    """A socket the client opens itself is TCP_NODELAY (as libpq's
    are), so a small CopyDone or Terminate after CopyData frames does
    not wait for the server's delayed ACK."""
    with socket.create_server(("127.0.0.1", 0)) as listener:
        conn = PGWireConnection(
            "127.0.0.1", listener.getsockname()[1], user="u", timeout=5
        )
        with conn._connect_socket() as sock:
            assert sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) == 1


# ---------------------------------------------------------- live gate
_PG_URL = os.environ.get("SCRATCHDATA_POSTGRES_URL")


@pytest.mark.skipif(
    not _PG_URL, reason="set SCRATCHDATA_POSTGRES_URL for the live test"
)
def test_live_copy_round_trip(spark, tmp_path):
    """Live Postgres: COPY-load an NDJSON file through the socket
    transport, read the table back over JDBC, drop it."""
    from urllib.parse import urlparse

    from scratchdata_spark.postgres_destination import (
        PostgresCopyDestination,
    )

    u = urlparse(_PG_URL.replace("jdbc:", "", 1))
    user = os.environ.get("SCRATCHDATA_POSTGRES_USER", "postgres")
    pw = os.environ.get("SCRATCHDATA_POSTGRES_PASSWORD", "")
    tr = SocketCopyTransport.connect(
        u.hostname, u.port or 5432, user=user, password=pw,
        database=u.path.lstrip("/") or user,
    )
    tr.conn.simple_query("DROP TABLE IF EXISTS sd_copy_live")
    tr.conn.simple_query(
        "CREATE TABLE sd_copy_live (a TEXT, b TEXT)"
    )
    dest = PostgresCopyDestination(
        spark, _PG_URL, copy_transport=tr, user=user, password=pw,
    )
    p = tmp_path / "live.ndjson"
    p.write_text('{"a": "1", "b": "x"}\n{"a": "2", "b": "y"}\n')
    dest.insert_ndjson("sd_copy_live", str(p))
    got = dest.query_df("SELECT a, b FROM sd_copy_live").collect()
    assert sorted((r.a, r.b) for r in got) == [("1", "x"), ("2", "y")]
    tr.conn.simple_query("DROP TABLE sd_copy_live")
    tr.conn.close()
