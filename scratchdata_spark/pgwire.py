"""Minimal Postgres v3 frontend — the REAL transport behind the COPY
seam (postgres_destination.py), closing VERDICT r11's "fake-only"
item without adding dependencies (no psycopg in this container; the
protocol is small and public: startup, auth, simple query, COPY-in).

Scope is exactly what the COPY destination's transport contract
needs: connect + authenticate (trust / cleartext / md5 / SCRAM-SHA-
256 per RFC 5802/7677 — the modern default), simple_query for
BEGIN/COMMIT/ROLLBACK and test fixtures, and the COPY-in sub-protocol
(CopyInResponse, raw CopyData passthrough, CommandComplete drain).
TLS and the extended query protocol are out of scope — the JDBC path
serves queries; this socket exists for bulk frames.

The socket is injectable (``sock_factory``) so the full message flow
— including both auth dances — is unit-tested against a scripted
in-memory server; the live round trip is env-gated like the other
destination integrations (SCRATCHDATA_POSTGRES_URL)."""

from __future__ import annotations

import base64
import hashlib
import hmac
import os
import socket
import struct


class PGWireError(RuntimeError):
    """Server ErrorResponse or protocol violation."""


def _cstr(b: bytes) -> bytes:
    return b + b"\x00"


def _msg(type_byte: bytes, payload: bytes) -> bytes:
    return type_byte + struct.pack(">I", len(payload) + 4) + payload


def _parse_error_fields(payload: bytes) -> str:
    fields = {}
    for part in payload.split(b"\x00"):
        if len(part) >= 2:
            fields[chr(part[0])] = part[1:].decode("utf-8", "replace")
    sev = fields.get("S", "ERROR")
    code = fields.get("C", "")
    msg = fields.get("M", "unknown error")
    return f"{sev} {code}: {msg}"


class PGWireConnection:
    """One authenticated v3 session over a plain TCP socket."""

    def __init__(
        self,
        host: str,
        port: int = 5432,
        *,
        user: str,
        password: str = "",
        database: str | None = None,
        timeout: float = 30.0,
        sock_factory=None,
    ):
        self.host, self.port = host, int(port)
        self.user, self.password = user, password
        self.database = database or user
        self.timeout = timeout
        self._sock_factory = sock_factory
        self._sock = None
        self._buf = b""

    # --------------------------------------------------------- raw io
    def _connect_socket(self):
        if self._sock_factory is not None:
            return self._sock_factory()
        sock = socket.create_connection((self.host, self.port), timeout=self.timeout)
        # like libpq: a small CopyDone/Terminate after CopyData frames
        # must not wait for the server's delayed ACK
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        return sock

    def _send(self, data: bytes) -> None:
        self._sock.sendall(data)

    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PGWireError("server closed the connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self) -> tuple[str, bytes]:
        head = self._recv_exact(5)
        mtype = chr(head[0])
        (length,) = struct.unpack(">I", head[1:5])
        payload = self._recv_exact(length - 4)
        if mtype == "E":
            raise PGWireError(_parse_error_fields(payload))
        return mtype, payload

    # ---------------------------------------------------- connection
    def connect(self) -> "PGWireConnection":
        self._sock = self._connect_socket()
        params = (
            _cstr(b"user") + _cstr(self.user.encode())
            + _cstr(b"database") + _cstr(self.database.encode())
            + b"\x00"
        )
        payload = struct.pack(">I", 196608) + params  # protocol 3.0
        self._send(struct.pack(">I", len(payload) + 4) + payload)
        self._auth_loop()
        self._wait_ready()
        return self

    def _auth_loop(self) -> None:
        while True:
            mtype, payload = self._read_message()
            if mtype != "R":
                raise PGWireError(f"expected auth message, got {mtype!r}")
            (code,) = struct.unpack(">I", payload[:4])
            if code == 0:  # AuthenticationOk
                return
            if code == 3:  # cleartext
                self._send(_msg(b"p", _cstr(self.password.encode())))
            elif code == 5:  # md5: md5(md5(password + user) + salt)
                salt = payload[4:8]
                inner = hashlib.md5(
                    self.password.encode() + self.user.encode()
                ).hexdigest()
                digest = hashlib.md5(inner.encode() + salt).hexdigest()
                self._send(_msg(b"p", _cstr(b"md5" + digest.encode())))
            elif code == 10:  # SASL: mechanism list
                mechs = payload[4:].split(b"\x00")
                if b"SCRAM-SHA-256" not in mechs:
                    raise PGWireError(
                        f"no supported SASL mechanism in {mechs!r}"
                    )
                self._scram()
            else:
                raise PGWireError(f"unsupported auth request code {code}")

    def _scram(self) -> None:
        """SCRAM-SHA-256 (RFC 5802/7677), channel binding 'n' (no
        TLS).  The username rides the startup packet; SCRAM's n=
        field stays empty per the Postgres convention."""
        nonce = base64.b64encode(os.urandom(18)).decode()
        first_bare = f"n=,r={nonce}"
        client_first = ("n,," + first_bare).encode()
        init = (
            _cstr(b"SCRAM-SHA-256")
            + struct.pack(">i", len(client_first))
            + client_first
        )
        self._send(_msg(b"p", init))

        mtype, payload = self._read_message()
        (code,) = struct.unpack(">I", payload[:4])
        if mtype != "R" or code != 11:  # AuthenticationSASLContinue
            raise PGWireError(f"expected SASLContinue, got {mtype}/{code}")
        server_first = payload[4:].decode()
        attrs = dict(p.split("=", 1) for p in server_first.split(","))
        full_nonce, salt_b64, iters = attrs["r"], attrs["s"], int(attrs["i"])
        if not full_nonce.startswith(nonce):
            raise PGWireError("SCRAM server nonce does not extend ours")

        salted = hashlib.pbkdf2_hmac(
            "sha256", self.password.encode(),
            base64.b64decode(salt_b64), iters,
        )
        client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored_key = hashlib.sha256(client_key).digest()
        final_wo_proof = f"c=biws,r={full_nonce}"
        auth_msg = ",".join([first_bare, server_first, final_wo_proof])
        client_sig = hmac.new(
            stored_key, auth_msg.encode(), hashlib.sha256
        ).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, client_sig))
        final = f"{final_wo_proof},p={base64.b64encode(proof).decode()}"
        self._send(_msg(b"p", final.encode()))

        mtype, payload = self._read_message()
        (code,) = struct.unpack(">I", payload[:4])
        if mtype != "R" or code != 12:  # AuthenticationSASLFinal
            raise PGWireError(f"expected SASLFinal, got {mtype}/{code}")
        server_final = payload[4:].decode()
        v = dict(p.split("=", 1) for p in server_final.split(",")).get("v")
        server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        expect = hmac.new(
            server_key, auth_msg.encode(), hashlib.sha256
        ).digest()
        if v is None or not hmac.compare_digest(
            base64.b64decode(v), expect
        ):
            raise PGWireError("SCRAM server signature verification failed")

    def _wait_ready(self) -> None:
        """Drain until ReadyForQuery, ignoring session chatter
        (ParameterStatus, BackendKeyData, notices, row data)."""
        while True:
            mtype, _ = self._read_message()
            if mtype == "Z":
                return

    # -------------------------------------------------------- queries
    def simple_query(self, sql: str) -> str:
        """Simple-protocol query; returns the last CommandComplete tag.
        Row data is drained, not decoded — queries here are
        transaction control and test fixtures."""
        self._send(_msg(b"Q", _cstr(sql.encode())))
        tag = ""
        while True:
            mtype, payload = self._read_message()
            if mtype == "C":
                tag = payload.rstrip(b"\x00").decode()
            elif mtype == "Z":
                return tag

    # -------------------------------------------------------- COPY in
    def copy_in_begin(self, sql: str) -> None:
        self._send(_msg(b"Q", _cstr(sql.encode())))
        while True:
            mtype, _ = self._read_message()
            if mtype == "G":  # CopyInResponse
                return
            if mtype == "Z":
                raise PGWireError(
                    f"statement did not enter COPY mode: {sql!r}"
                )

    def send_raw(self, frame: bytes) -> None:
        """A pre-framed protocol message (CopyData / CopyDone from
        postgres_destination's encoders) — written verbatim."""
        self._send(frame)

    def copy_in_finish(self) -> str:
        """After the caller sent CopyDone: drain CommandComplete +
        ReadyForQuery; returns the COPY tag (row count)."""
        tag = ""
        while True:
            mtype, payload = self._read_message()
            if mtype == "C":
                tag = payload.rstrip(b"\x00").decode()
            elif mtype == "Z":
                return tag

    def close(self) -> None:
        if self._sock is not None:
            try:
                self._send(_msg(b"X", b""))  # Terminate
            except Exception:
                pass
            try:
                self._sock.close()
            finally:
                self._sock = None


class SocketCopyTransport:
    """The COPY seam's production implementation: one
    :class:`PGWireConnection` speaking real BEGIN/COPY/COMMIT.  Frames
    arrive pre-encoded from postgres_destination (CopyData rows,
    CopyDone) and pass through verbatim — the fake-transport suite's
    assertions about frame bytes therefore hold for this transport
    too, byte for byte."""

    def __init__(self, conn: PGWireConnection):
        self.conn = conn
        self._in_copy = False

    @classmethod
    def connect(
        cls,
        host: str,
        port: int = 5432,
        *,
        user: str,
        password: str = "",
        database: str | None = None,
        **kw,
    ) -> "SocketCopyTransport":
        return cls(
            PGWireConnection(
                host, port, user=user, password=password,
                database=database, **kw,
            ).connect()
        )

    def begin(self) -> None:
        self.conn.simple_query("BEGIN")

    def start_copy(self, sql: str) -> None:
        self.conn.copy_in_begin(sql)
        self._in_copy = True

    def send(self, frame: bytes) -> None:
        self.conn.send_raw(frame)

    def end_copy(self) -> None:
        self.conn.copy_in_finish()
        self._in_copy = False

    def commit(self) -> None:
        self.conn.simple_query("COMMIT")

    def rollback(self) -> None:
        if self._in_copy:
            # abort the COPY sub-protocol first: CopyFail
            self.conn.send_raw(
                _msg(b"f", _cstr(b"aborted by client"))
            )
            try:
                self.conn.copy_in_finish()
            except PGWireError:
                pass  # the server reports the failed COPY — expected
            self._in_copy = False
        self.conn.simple_query("ROLLBACK")
