"""S1 live-wire slot: the MySQL packet/auth/dump conversation driven from
scripted socket bytes — no server needed. The dump tests re-frame a binlog
file into wire packets:

- ``test_full_auth_then_dump_streams_events`` and
  ``test_eof_packet_ends_stream`` replay ``LOCAL``'s ``16_xid``, a
  three-event binlog synthesized by hand and committed in this repository
  (see its README.md); they run everywhere.
- ``test_wire_equals_file_parser`` replays the reference's captured
  ``30_write_rows_v2`` (under ``BASE``) and asserts the wire path yields
  byte-identical envelopes to the offline file parser, proving the two
  transports share one decode path. It skips where that capture is absent.
"""

from __future__ import annotations

import hashlib
import io
import os

import pytest

from rust_cdc_spark.sources import wire as W
from rust_cdc_spark.sources.binlog_file import (
    XID_EVENT,
    envelopes_from_events,
    parse_binlog_file,
)

BASE = "/root/reference/tests/events"
LOCAL = os.path.join(os.path.dirname(__file__), "fixtures", "binlog")


class TestPacketFraming:
    def test_roundtrip_small(self):
        buf = W.write_packet(3, b"hello")
        seq, payload = W.read_packet(io.BytesIO(buf))
        assert (seq, payload) == (3, b"hello")

    def test_roundtrip_16mib_continuation(self):
        big = bytes(0xFFFFFF) + b"tail"
        framed = W.write_packet(0, big)
        # continuation: first chunk is exactly 0xFFFFFF, second carries rest
        assert framed[0:3] == b"\xff\xff\xff"
        seq, payload = W.read_packet(io.BytesIO(framed))
        assert payload == big

    def test_exact_16mib_needs_empty_trailer(self):
        big = bytes(0xFFFFFF)
        framed = W.write_packet(0, big)
        # protocol: a length-0xFFFFFF packet MUST be followed by another
        # (possibly empty) packet
        assert framed[-4:] == b"\x00\x00\x00\x01"
        _, payload = W.read_packet(io.BytesIO(framed))
        assert payload == big

    def test_truncated_stream_raises(self):
        with pytest.raises(EOFError):
            W.read_packet(io.BytesIO(b"\x05\x00\x00\x00ab"))


def _greeting(
    nonce: bytes, plugin: str = "mysql_native_password", cap_extra: int = 0,
    cap_mask: int = ~0,
) -> bytes:
    """Hand-built Initial Handshake v10 (independent of parse_handshake)."""
    assert len(nonce) == 20
    cap = (0xFFFF | (W.CLIENT_PLUGIN_AUTH) | cap_extra) & cap_mask
    out = bytes([10]) + b"8.0.33\x00"
    out += (7).to_bytes(4, "little")        # connection id
    out += nonce[:8] + b"\x00"              # auth-data-1 + filler
    out += (cap & 0xFFFF).to_bytes(2, "little")
    out += bytes([45])                      # charset
    out += (2).to_bytes(2, "little")        # status flags
    out += (cap >> 16).to_bytes(2, "little")
    out += bytes([21])                      # auth data length
    out += bytes(10)                        # reserved
    out += nonce[8:] + b"\x00"              # auth-data-2 (12 bytes + NUL)
    out += plugin.encode() + b"\x00"
    return out


class TestHandshake:
    NONCE = bytes(range(20))

    def test_parse_greeting(self):
        hs = W.parse_handshake(_greeting(self.NONCE))
        assert hs.protocol_version == 10
        assert hs.server_version == "8.0.33"
        assert hs.connection_id == 7
        assert hs.nonce == self.NONCE
        assert hs.auth_plugin == "mysql_native_password"
        assert hs.capabilities & W.CLIENT_PLUGIN_AUTH

    def test_native_scramble_server_side_verification(self):
        """The server validates: XOR(reply, SHA1(nonce+stored)) == SHA1(p)
        and SHA1(SHA1(p)) == stored — simulate that check exactly."""
        reply = W.scramble_native_password("secret", self.NONCE)
        stored = hashlib.sha1(hashlib.sha1(b"secret").digest()).digest()
        mask = hashlib.sha1(self.NONCE + stored).digest()
        recovered_h1 = bytes(a ^ b for a, b in zip(reply, mask))
        assert recovered_h1 == hashlib.sha1(b"secret").digest()
        assert hashlib.sha1(recovered_h1).digest() == stored

    def test_caching_sha2_scramble_verification(self):
        reply = W.scramble_caching_sha2("secret", self.NONCE)
        h1 = hashlib.sha256(b"secret").digest()
        mask = hashlib.sha256(hashlib.sha256(h1).digest() + self.NONCE).digest()
        assert bytes(a ^ b for a, b in zip(h1, mask)) == reply

    def test_empty_password_empty_auth(self):
        assert W.scramble_native_password("", self.NONCE) == b""

    def test_handshake_response_fields(self):
        hs = W.parse_handshake(_greeting(self.NONCE))
        resp = W.build_handshake_response("repl", "secret", hs, database="cdc")
        caps = int.from_bytes(resp[0:4], "little")
        assert caps & W.CLIENT_PROTOCOL_41 and caps & W.CLIENT_CONNECT_WITH_DB
        assert resp[8] == 45  # utf8mb4
        rest = resp[32:]
        user, rest = rest.split(b"\x00", 1)
        assert user == b"repl"
        auth_len = rest[0]
        auth, rest = rest[1 : 1 + auth_len], rest[1 + auth_len :]
        assert auth == W.scramble_native_password("secret", self.NONCE)
        db, plugin, _ = rest.split(b"\x00")
        assert (db, plugin) == (b"cdc", b"mysql_native_password")

    def test_com_binlog_dump_layout(self):
        pkt = W.build_com_binlog_dump(1001, "binlog.000042", 4)
        assert pkt[0] == W.COM_BINLOG_DUMP
        assert int.from_bytes(pkt[1:5], "little") == 4
        assert int.from_bytes(pkt[7:11], "little") == 1001
        assert pkt[11:] == b"binlog.000042"


def _fixture(name: str, base: str = BASE) -> str:
    d = os.path.join(base, name)
    bins = [f for f in os.listdir(d) if "bin" in f and not f.endswith(".md")]
    return os.path.join(d, sorted(bins)[0])


def _raw_frames(path: str) -> list[bytes]:
    """Split a binlog file into raw event frames (header + body,
    checksums intact) — what the server sends after COM_BINLOG_DUMP."""
    data = open(path, "rb").read()
    assert data[:4] == b"\xfebin"
    frames, pos = [], 4
    while pos < len(data):
        size = int.from_bytes(data[pos + 9 : pos + 13], "little")
        frames.append(data[pos : pos + size])
        pos += size
    return frames


class TestScriptedReplication:
    def _script(self, frames: list[bytes], tail: bytes = b"") -> io.BytesIO:
        nonce = bytes(range(20))
        buf = W.write_packet(0, _greeting(nonce))          # server greeting
        buf += W.write_packet(2, b"\x00\x00\x00\x02\x00")  # OK after auth
        for i, f in enumerate(frames):
            buf += W.write_packet(i + 1, b"\x00" + f)      # event packets
        buf += tail
        return io.BytesIO(buf)

    @pytest.mark.skipif(
        not os.path.isdir(os.path.join(BASE, "30_write_rows_v2")),
        reason="reference fixture 30_write_rows_v2 absent",
    )
    def test_wire_equals_file_parser(self):
        """The whole point of the slot: socket bytes and file bytes land
        in the same envelopes."""
        path = _fixture("30_write_rows_v2")
        sent: list[bytes] = []
        stream = self._script(_raw_frames(path))
        events = W.replicate(
            stream, "repl", "secret", server_id=1001,
            log_file="binlog.000002", log_pos=4, send=sent.append,
        )
        wire_envs = list(envelopes_from_events(events, "binlog.000002"))
        file_envs = [
            {**e, "file": "binlog.000002"} for e in parse_binlog_file(path)
        ]
        assert wire_envs == file_envs
        assert any(e["op"] == "I" for e in wire_envs)
        # and the client said the right things: auth then dump
        _, auth_payload = W.read_packet(io.BytesIO(sent[0]))
        assert b"repl\x00" in auth_payload
        _, dump_payload = W.read_packet(io.BytesIO(sent[1]))
        assert dump_payload[0] == W.COM_BINLOG_DUMP
        assert dump_payload[11:] == b"binlog.000002"

    def test_eof_packet_ends_stream(self):
        path = _fixture("16_xid", LOCAL)
        frames = _raw_frames(path)
        stream = self._script(frames, tail=W.write_packet(9, b"\xfe\x00\x00\x02\x00"))
        events = W.replicate(
            stream, "repl", "", server_id=1, log_file="b.1", log_pos=4,
            send=lambda b: None,
        )
        assert len(list(events)) == len(frames)

    def test_err_packet_raises(self):
        err = b"\xff" + (1236).to_bytes(2, "little") + b"#HY000bad log position"
        stream = self._script([], tail=W.write_packet(3, err))
        events = W.replicate(
            stream, "repl", "", server_id=1, log_file="b.1", log_pos=4,
            send=lambda b: None,
        )
        with pytest.raises(W.WireError, match="1236.*bad log position"):
            list(events)

    def test_auth_rejected_raises(self):
        nonce = bytes(range(20))
        buf = W.write_packet(0, _greeting(nonce))
        buf += W.write_packet(
            2, b"\xff" + (1045).to_bytes(2, "little") + b"Access denied"
        )
        with pytest.raises(W.WireError, match="1045"):
            list(
                W.replicate(
                    io.BytesIO(buf), "repl", "wrong", server_id=1,
                    log_file="b.1", log_pos=4, send=lambda b: None,
                )
            )


def _lenenc_str_bytes(s: bytes) -> bytes:
    assert len(s) < 0xFB
    return bytes([len(s)]) + s


def _coldef(name: bytes) -> bytes:
    # catalog, schema, table, org_table, name (lenenc strings) + enough
    # trailing bytes for the fixed fields the parser ignores
    return (
        _lenenc_str_bytes(b"def") + _lenenc_str_bytes(b"") +
        _lenenc_str_bytes(b"") + _lenenc_str_bytes(b"") +
        _lenenc_str_bytes(name) + b"\x0c" + b"\x00" * 12
    )


class TestComQuery:
    def _script(self, packets: list[bytes]) -> io.BytesIO:
        return io.BytesIO(b"".join(
            W.write_packet(i + 1, p) for i, p in enumerate(packets)
        ))

    def test_ok_only_statement(self):
        stream = self._script([b"\x00\x00\x00\x02\x00"])  # OK packet
        sent = []
        cols, rows = W.query(stream, sent.append, "SET NAMES utf8mb4")
        assert (cols, rows) == ([], [])
        assert sent[0][4] == W.COM_QUERY
        assert sent[0][5:] == b"SET NAMES utf8mb4"

    def test_show_master_status_resultset(self):
        eof = b"\xfe\x00\x00\x02\x00"
        row = (_lenenc_str_bytes(b"binlog.000042") +
               _lenenc_str_bytes(b"1547"))
        # CLIENT_DEPRECATE_EOF framing: no EOF between coldefs and rows
        stream = self._script([
            b"\x02", _coldef(b"File"), _coldef(b"Position"), row, eof,
        ])
        cols, rows = W.read_text_resultset(stream)
        assert cols == ["File", "Position"]
        assert rows == [["binlog.000042", "1547"]]

    def test_null_cells(self):
        eof = b"\xfe\x00\x00\x02\x00"
        row = _lenenc_str_bytes(b"x") + b"\xfb"
        stream = self._script([b"\x02", _coldef(b"a"), _coldef(b"b"), row, eof])
        _, rows = W.read_text_resultset(stream)
        assert rows == [["x", None]]

    def test_err_raises(self):
        err = b"\xff\x28\x04#42000Unknown database"
        stream = self._script([err])
        with pytest.raises(W.WireError) as e:
            W.read_text_resultset(stream)
        assert e.value.code == 0x0428

    def test_session_setup_conversation(self):
        eof = b"\xfe\x00\x00\x02\x00"
        ok = b"\x00\x00\x00\x02\x00"
        row = _lenenc_str_bytes(b"binlog.000007") + _lenenc_str_bytes(b"4")
        stream = self._script([
            ok, ok, ok,                      # SET NAMES / time_zone / checksum
            b"\x02", _coldef(b"File"), _coldef(b"Position"), row, eof,
        ])
        sent = []
        file, pos = W.session_setup(stream, sent.append)
        assert (file, pos) == ("binlog.000007", 4)
        sql_sent = b"".join(sent)
        assert b"SET NAMES utf8mb4" in sql_sent
        assert b"@master_binlog_checksum" in sql_sent
        assert b"SHOW MASTER STATUS" in sql_sent

    def test_ping(self):
        stream = self._script([b"\x00\x00\x00\x02\x00"])
        sent = []
        assert W.ping(stream, sent.append)
        assert sent[0][4] == W.COM_PING

    # ── classic (pre-DEPRECATE_EOF) resultset framing ────────────────
    # A server that did not negotiate CLIENT_DEPRECATE_EOF sends an EOF
    # packet BETWEEN the column definitions and the first row; treating
    # it as end-of-rows silently returns zero rows (the
    # "binlog disabled" failure on every real classic-framing server).

    def test_classic_framing_rows_survive_eof_separator(self):
        eof = b"\xfe\x00\x00\x02\x00"
        row = (_lenenc_str_bytes(b"binlog.000042") +
               _lenenc_str_bytes(b"1547"))
        stream = self._script([
            b"\x02", _coldef(b"File"), _coldef(b"Position"),
            eof,  # classic separator
            row, eof,
        ])
        cols, rows = W.read_text_resultset(stream, deprecate_eof=False)
        assert cols == ["File", "Position"]
        assert rows == [["binlog.000042", "1547"]]

    def test_classic_framing_zero_rows(self):
        eof = b"\xfe\x00\x00\x02\x00"
        stream = self._script([b"\x01", _coldef(b"File"), eof, eof])
        cols, rows = W.read_text_resultset(stream, deprecate_eof=False)
        assert cols == ["File"]
        assert rows == []

    def test_session_setup_classic_framing(self):
        eof = b"\xfe\x00\x00\x02\x00"
        ok = b"\x00\x00\x00\x02\x00"
        row = _lenenc_str_bytes(b"binlog.000007") + _lenenc_str_bytes(b"4")
        stream = self._script([
            ok, ok, ok,
            b"\x02", _coldef(b"File"), _coldef(b"Position"),
            eof, row, eof,
        ])
        file, pos = W.session_setup(
            stream, lambda b: None, deprecate_eof=False
        )
        assert (file, pos) == ("binlog.000007", 4)


class TestCapabilityNegotiation:
    NONCE = bytes(range(20))

    def test_deprecate_eof_mirrored_from_server(self):
        hs = W.parse_handshake(
            _greeting(self.NONCE, cap_extra=W.CLIENT_DEPRECATE_EOF)
        )
        resp = W.build_handshake_response("repl", "pw", hs)
        caps = int.from_bytes(resp[0:4], "little")
        assert caps & W.CLIENT_DEPRECATE_EOF

    def test_deprecate_eof_not_forced_on_classic_server(self):
        hs = W.parse_handshake(_greeting(self.NONCE))
        resp = W.build_handshake_response("repl", "pw", hs)
        caps = int.from_bytes(resp[0:4], "little")
        assert not (caps & W.CLIENT_DEPRECATE_EOF)


# ── caching_sha2 full auth: RSA-OAEP exchange ─────────────────────────
# A deterministic pure-Python RSA keypair plays the server; the test
# decrypts the client's encrypted-password frame with the private key
# and asserts the password round-trips (the exchange the reference
# drives in auth.rs:127-190 when the server answers perform-full-auth).


def _miller_rabin(n: int, rnd) -> bool:
    if n % 2 == 0:
        return n == 2
    d, r = n - 1, 0
    while d % 2 == 0:
        d //= 2
        r += 1
    for _ in range(24):
        a = rnd.randrange(2, n - 2)
        x = pow(a, d, n)
        if x in (1, n - 1):
            continue
        for _ in range(r - 1):
            x = pow(x, 2, n)
            if x == n - 1:
                break
        else:
            return False
    return True


def _gen_prime(bits: int, rnd) -> int:
    while True:
        p = rnd.getrandbits(bits) | (1 << (bits - 1)) | 1
        if _miller_rabin(p, rnd):
            return p


def _test_rsa_keypair():
    import random

    rnd = random.Random(0xC0FFEE)
    e = 65537
    while True:
        p, q = _gen_prime(256, rnd), _gen_prime(256, rnd)
        phi = (p - 1) * (q - 1)
        if p != q and phi % e != 0:
            return p * q, e, pow(e, -1, phi)


def _der_len(b: bytes) -> bytes:
    n = len(b)
    if n < 0x80:
        return bytes([n])
    enc = n.to_bytes((n.bit_length() + 7) // 8, "big")
    return bytes([0x80 | len(enc)]) + enc


def _der_int(v: int) -> bytes:
    b = v.to_bytes((v.bit_length() + 7) // 8 or 1, "big")
    if b[0] & 0x80:
        b = b"\x00" + b
    return b"\x02" + _der_len(b) + b


def _spki_pem(n: int, e: int) -> bytes:
    import base64

    pkcs1 = _der_int(n) + _der_int(e)
    pkcs1 = b"\x30" + _der_len(pkcs1) + pkcs1
    alg = bytes.fromhex("300d06092a864886f70d0101010500")
    bitstr = b"\x03" + _der_len(b"\x00" + pkcs1) + b"\x00" + pkcs1
    spki = b"\x30" + _der_len(alg + bitstr) + alg + bitstr
    b64 = base64.encodebytes(spki).replace(b"\n", b"")
    lines = [b64[i:i + 64] for i in range(0, len(b64), 64)]
    return (b"-----BEGIN PUBLIC KEY-----\n"
            + b"\n".join(lines)
            + b"\n-----END PUBLIC KEY-----\n")


def _oaep_decrypt(blob: bytes, n: int, d: int) -> bytes:
    k = (n.bit_length() + 7) // 8
    em = pow(int.from_bytes(blob, "big"), d, n).to_bytes(k, "big")
    masked_seed, masked_db = em[1:21], em[21:]
    seed = bytes(a ^ b for a, b in zip(masked_seed, W._mgf1(masked_db, 20)))
    db = bytes(
        a ^ b for a, b in zip(masked_db, W._mgf1(seed, len(masked_db)))
    )
    return db[db.index(b"\x01", 20) + 1:]


class TestCachingSha2FullAuth:
    NONCE = bytes(range(20))
    KEY = _test_rsa_keypair()

    def _script(self, packets):
        return io.BytesIO(
            b"".join(W.write_packet(i + 2, p) for i, p in enumerate(packets))
        )

    def _hs(self):
        return W.parse_handshake(
            _greeting(self.NONCE, plugin="caching_sha2_password")
        )

    def test_pem_parse_spki_and_pkcs1(self):
        n, e, _ = self.KEY
        assert W.parse_rsa_public_key_pem(_spki_pem(n, e)) == (n, e)
        import base64

        pkcs1 = _der_int(n) + _der_int(e)
        pkcs1 = b"\x30" + _der_len(pkcs1) + pkcs1
        pem = (b"-----BEGIN RSA PUBLIC KEY-----\n"
               + base64.encodebytes(pkcs1)
               + b"-----END RSA PUBLIC KEY-----\n")
        assert W.parse_rsa_public_key_pem(pem) == (n, e)

    def test_oaep_roundtrip(self):
        n, e, d = self.KEY
        rng = lambda size: bytes(range(7, 7 + size))  # noqa: E731
        blob = W.rsa_oaep_encrypt(b"hello", n, e, rng=rng)
        assert len(blob) == 64
        assert _oaep_decrypt(blob, n, d) == b"hello"

    def test_full_auth_password_roundtrips(self):
        n, e, d = self.KEY
        ok = b"\x00\x00\x00\x02\x00"
        stream = self._script([
            bytes([W.AUTH_MORE_DATA, W.PERFORM_FULL_AUTH]),
            b"\x01" + _spki_pem(n, e),
            ok,
        ])
        sent = []
        W.authenticate(
            stream, sent.append, "s3cret!", self._hs(), 1,
            rng=lambda size: bytes(size),
        )
        # frame 1: the public key request byte
        assert sent[0][4] == W.PUBLIC_KEY_REQUEST
        # frame 2: RSA blob; decrypt + un-XOR recovers password + NUL
        blob = sent[1][4:]
        plain = _oaep_decrypt(blob, n, d)
        pw = bytes(
            b ^ self.NONCE[i % 20] for i, b in enumerate(plain)
        )
        assert pw == b"s3cret!\x00"

    def test_fast_auth_path_consumes_marker_then_ok(self):
        stream = self._script([
            bytes([W.AUTH_MORE_DATA, W.FAST_AUTH_OK]),
            b"\x00\x00\x00\x02\x00",
        ])
        sent = []
        W.authenticate(stream, sent.append, "pw", self._hs(), 1)
        assert sent == []  # nothing else to send on the fast path

    def test_auth_switch_rescrambles_with_new_nonce(self):
        new_nonce = bytes(range(100, 120))
        stream = self._script([
            bytes([W.AUTH_SWITCH]) + b"mysql_native_password\x00"
            + new_nonce + b"\x00",
            b"\x00\x00\x00\x02\x00",
        ])
        sent = []
        W.authenticate(stream, sent.append, "pw", self._hs(), 1)
        assert sent[0][4:] == W.scramble_native_password("pw", new_nonce)

    def test_err_during_full_auth_raises(self):
        err = b"\xff\x15\x04#28000Access denied"
        stream = self._script([err])
        with pytest.raises(W.WireError) as ei:
            W.authenticate(stream, lambda b: None, "pw", self._hs(), 1)
        assert ei.value.code == 0x0415


class TestSha256Password:
    """sha256_password over non-TLS: the initial response is a 0x01
    public-key request; the server's AuthMoreData carries the PEM
    directly and the password goes back RSA-OAEP encrypted (reference
    auth.rs:29-30 routes the plugin into encrypt_rsa with request id
    0x01)."""

    NONCE = bytes(range(20))
    KEY = TestCachingSha2FullAuth.KEY

    def _hs(self):
        return W.parse_handshake(
            _greeting(self.NONCE, plugin="sha256_password")
        )

    def test_initial_response_requests_public_key(self):
        resp = W.build_handshake_response("repl", "pw", self._hs())
        rest = resp[32:]
        _, rest = rest.split(b"\x00", 1)  # user
        assert rest[0] == 1 and rest[1:2] == b"\x01"

    def test_empty_password_sends_empty_auth(self):
        resp = W.build_handshake_response("repl", "", self._hs())
        rest = resp[32:]
        _, rest = rest.split(b"\x00", 1)
        assert rest[0] == 0  # zero-length auth response

    def test_password_roundtrips(self):
        n, e, d = self.KEY
        ok = b"\x00\x00\x00\x02\x00"
        stream = io.BytesIO(
            b"".join(
                W.write_packet(i + 2, p)
                for i, p in enumerate([b"\x01" + _spki_pem(n, e), ok])
            )
        )
        sent = []
        W.authenticate(
            stream, sent.append, "pa55word", self._hs(), 1,
            rng=lambda size: bytes(size),
        )
        plain = _oaep_decrypt(sent[0][4:], n, d)
        pw = bytes(b ^ self.NONCE[i % 20] for i, b in enumerate(plain))
        assert pw == b"pa55word\x00"


class TestFullAuthReplication:
    """End-to-end conversation with a caching_sha2 scramble-cache miss:
    greeting → scramble → perform-full-auth → RSA exchange → OK → dump
    → events. The whole reference flow (conn.rs establish +
    auth.rs full auth) against one scripted socket."""

    def test_full_auth_then_dump_streams_events(self):
        n, e, d = TestCachingSha2FullAuth.KEY
        nonce = bytes(range(20))
        path = _fixture("16_xid", LOCAL)
        frames = _raw_frames(path)
        assert frames  # an empty fixture would make the count check 0 == 0
        buf = W.write_packet(0, _greeting(nonce, plugin="caching_sha2_password"))
        buf += W.write_packet(2, bytes([W.AUTH_MORE_DATA, W.PERFORM_FULL_AUTH]))
        buf += W.write_packet(4, b"\x01" + _spki_pem(n, e))
        buf += W.write_packet(6, b"\x00\x00\x00\x02\x00")  # OK
        for i, f in enumerate(frames):
            buf += W.write_packet(i + 1, b"\x00" + f)
        sent: list[bytes] = []
        events = list(W.replicate(
            io.BytesIO(buf), "repl", "s3cret!", server_id=7,
            log_file="binlog.000001", log_pos=4, send=sent.append,
        ))
        assert len(events) == len(frames)
        assert all(ev.crc_ok for ev in events)
        assert events[-1].type_code == XID_EVENT
        assert int.from_bytes(events[-1].body[:8], "little") == 852
        # client frames: handshake response, pubkey request, RSA blob, dump
        assert len(sent) == 4
        _, req = W.read_packet(io.BytesIO(sent[1]))
        assert req == bytes([W.PUBLIC_KEY_REQUEST])
        _, blob = W.read_packet(io.BytesIO(sent[2]))
        plain = _oaep_decrypt(blob, n, d)
        assert bytes(
            b ^ nonce[i % 20] for i, b in enumerate(plain)
        ) == b"s3cret!\x00"
        _, dump = W.read_packet(io.BytesIO(sent[3]))
        assert dump[0] == W.COM_BINLOG_DUMP


# ── TLS connection phase ─────────────────────────────────────────────
# The reference upgrades its stream to TLS between the greeting and the
# HandshakeResponse: a 32-byte SSLRequest goes out in the clear
# (protocol/connect/ssl_request.rs), then the TLS handshake runs, then
# the full HandshakeResponse repeats the same capability flags over the
# encrypted stream (connection/stream.rs declares Capabilities::SSL).
# A real loopback TLS server (self-signed cert minted by the openssl
# CLI) exercises establish() end-to-end: greeting → SSLRequest → TLS →
# auth → COM_PING, all asserted from the server's viewpoint.


class TestTlsEstablish:
    def test_ssl_request_layout_matches_response_prefix(self):
        hs = W.parse_handshake(_greeting(bytes(range(20))))
        req = W.build_ssl_request(hs)
        assert len(req) == 32  # caps(4) + max packet(4) + collation(1) + 23x0
        caps = int.from_bytes(req[:4], "little")
        assert caps & W.CLIENT_SSL
        assert int.from_bytes(req[4:8], "little") == 1 << 24
        assert req[8] == 45 and req[9:] == bytes(23)
        resp = W.build_handshake_response("u", "p", hs, ssl=True)
        assert resp[:32] == req  # byte-identical fixed prefix

    def test_required_without_server_ssl_raises(self):
        import socket as socketlib

        a, b = socketlib.socketpair()
        a.settimeout(10)
        try:
            # greeting with CLIENT_SSL stripped from the advertised caps
            no_ssl = _greeting(bytes(range(20)), cap_mask=~W.CLIENT_SSL)
            b.sendall(W.write_packet(0, no_ssl))
            with pytest.raises(W.WireError, match="TLS"):
                W.establish(a, "u", "p", ssl_mode="required")
        finally:
            a.close()
            b.close()

    @pytest.fixture(scope="class")
    def certpair(self, tmp_path_factory):
        import subprocess

        d = tmp_path_factory.mktemp("tls")
        key, cert = d / "key.pem", d / "cert.pem"
        r = subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048",
             "-keyout", str(key), "-out", str(cert), "-days", "1",
             "-nodes", "-subj", "/CN=mysql"],
            capture_output=True,
        )
        if r.returncode != 0:
            pytest.skip(f"openssl unavailable: {r.stderr[:200]!r}")
        return str(cert), str(key)

    def test_full_conversation_over_tls(self, certpair):
        import socket as socketlib
        import ssl as ssllib
        import threading

        cert, key = certpair
        nonce = bytes(range(1, 21))
        password = "s3cret!"
        seen: dict = {}

        srv_ctx = ssllib.SSLContext(ssllib.PROTOCOL_TLS_SERVER)
        srv_ctx.load_cert_chain(cert, key)
        lsock = socketlib.socket()
        lsock.bind(("127.0.0.1", 0))
        lsock.listen(1)
        port = lsock.getsockname()[1]

        def server():
            conn, _ = lsock.accept()
            try:
                conn.sendall(W.write_packet(0, _greeting(nonce)))
                # unbuffered: must not read past the 36-byte SSLRequest
                # into the TLS ClientHello that follows it
                raw = conn.makefile("rb", buffering=0)
                seen["sslreq"] = W.read_packet(raw)
                tconn = srv_ctx.wrap_socket(conn, server_side=True)
                tf = tconn.makefile("rb")
                seen["resp"] = W.read_packet(tf)
                tconn.sendall(W.write_packet(3, b"\x00\x00\x00\x02\x00"))
                seen["ping"] = W.read_packet(tf)
                tconn.sendall(W.write_packet(1, b"\x00\x00\x00\x02\x00"))
                tconn.close()
            except Exception as exc:  # surfaced via seen for the assert
                seen["server_error"] = exc
            finally:
                lsock.close()

        t = threading.Thread(target=server, daemon=True)
        t.start()
        csock = socketlib.create_connection(("127.0.0.1", port), timeout=10)
        try:
            stream, send, hs = W.establish(
                csock, "repl", password, ssl_mode="required"
            )
            assert W.ping(stream, send)
        finally:
            csock.close()
        t.join(10)
        assert "server_error" not in seen, seen.get("server_error")

        sseq, sslreq = seen["sslreq"]
        assert sseq == 1 and len(sslreq) == 32
        caps = int.from_bytes(sslreq[:4], "little")
        assert caps & W.CLIENT_SSL

        rseq, resp = seen["resp"]
        assert rseq == 2
        assert resp[:32] == sslreq  # response repeats the SSLRequest flags
        # server-side scramble check: the auth bytes that crossed the
        # encrypted stream verify against the greeting nonce
        end = resp.index(0, 32)
        assert resp[32:end] == b"repl"
        alen = resp[end + 1]
        auth = resp[end + 2:end + 2 + alen]
        assert auth == W.scramble_native_password(password, nonce)
        assert seen["ping"][1][0] == W.COM_PING
