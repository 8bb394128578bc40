"""The Arrow-over-TCP wire of :class:`~.remote_engine.ArrowIngestServer`:
its framing, the one client request helper and the one status reader.
Every module that speaks the wire (the executor_direct write plane, the
``clickhouse_tail`` source, the server itself) goes through this one,
the way the reference keeps its remote protocol behind one connection
module (src/connection.rs:41-212).

Wire protocol (one operation per connection). The header is a 4-byte
BE length + UTF-8 JSON dict; ``op`` selects the operation (default
``"ingest"``):

* ingest — header ``{"table": ..., "columns": ...}`` then an Arrow IPC
  stream of RecordBatches from the client; the server replies 1 status
  byte (``OK`` 0x00 / ``ERROR`` 0x01), then an 8-byte BE appended-row
  count (ok) or the error frame: 4-byte BE length + UTF-8 message.
  With ``"marker": {"commits": t, "sink": s, "batch": n}`` in the
  header (the executor_direct plane's exactly-once handshake) the
  server FIRST replies one gate byte — ``PROCEED`` 0x10 / ``SKIP``
  0x11 (marker already committed: skip and close) or the error frame —
  before the client streams any data; on proceed the marker INSERT
  joins the partition's transaction (rows + marker land atomically;
  see ``ArrowIngestServer._marker_gate``).
* query — the read direction, the executor-reachable twin of
  ``RemoteEngine.execute_stream`` (src/stream.rs:110-131): header
  ``{"op": "query", "sql": ...[, "batch_rows": ...]}``; the server
  replies the status byte, then (ok) streams the result as an Arrow IPC
  stream batch-by-batch and closes. A failure BEFORE the first batch is
  a clean error frame; a failure mid-stream truncates the IPC stream
  (the client's reader raises). This is what lets Spark EXECUTORS scan
  key ranges of a remote table directly — the data plane of the
  ``clickhouse_tail`` streaming source. READ-ONLY: statements are gated
  by ``assert_read_only_sql``; writes come through the ingest op or the
  driver-side engine API.
* progress — the capped tail's watermark row as a dedicated
  parameterized op (``ArrowIngestServer._handle_progress``): header
  ``{"op": "progress", "table": ..., "tail_id": ...,
  "action": get|put|reset[, "watermark": N][, "incarnation": s]}``;
  reply status byte + 1-byte presence flag + 8-byte signed BE watermark
  + 2-byte BE length + incarnation bytes (the incarnation lets a NEW
  reader recovering the row tell its own writes from a previous
  incarnation's and clamp its first poll).

When the server was started with a ``token``, every header must carry
it (``"token": ...``, constant-time compared).

A client that reads a reply the server never finished sending — the
server hung up before the status byte, or mid-count — gets
``RuntimeError("<what> failed: connection closed by server")``, never a
truncated count or watermark.
"""

from __future__ import annotations

# the standard library only: the executor_direct writer ships this
# module to Python workers by value (engine.py)
import contextlib
import json
import socket

OK, ERROR = b"\x00", b"\x01"        # reply status
PROCEED, SKIP = b"\x10", b"\x11"    # ingest marker gate


def read_exact(f, n: int, what: str) -> bytes:
    """Exactly ``n`` bytes of the reply; a short read (FIN) or a reset
    is the server hanging up."""
    try:
        data = f.read(n)
    except ConnectionError as e:
        raise RuntimeError(
            f"{what} failed: connection closed by server") from e
    if len(data) != n:
        raise RuntimeError(f"{what} failed: connection closed by server")
    return data


def _read_int(f, n: int, what: str, signed: bool = False) -> int:
    return int.from_bytes(read_exact(f, n, what), "big", signed=signed)


def read_status(f, what: str, expect: tuple = (OK,)) -> bytes:
    """The one-byte status (or gate) reply. ``ERROR`` raises with the
    server's error frame, a byte outside ``expect`` raises too."""
    status = read_exact(f, 1, what)
    if status == ERROR:
        msg = read_exact(f, _read_int(f, 4, what), what).decode()
        raise RuntimeError(f"{what} failed: {msg}")
    if status not in expect:
        raise RuntimeError(f"{what} failed: bad status byte {status!r}")
    return status


@contextlib.contextmanager
def request(host: str, port: int, **header):
    """One operation: connect, send the header and yield the
    connection's file for the op's body and reply. Fields whose value
    is None are left out (the optional ``token``, ``marker``,
    ``watermark``, ...); the rest travel in the order given."""
    body = json.dumps({k: v for k, v in header.items()
                       if v is not None}).encode()
    s = socket.create_connection((host, port))
    f = s.makefile("rwb")
    try:
        f.write(len(body).to_bytes(4, "big"))
        f.write(body)
        f.flush()
        yield f
    finally:
        # a close must not mask the op's own error with a flush of
        # bytes the hung-up server will never read
        with contextlib.suppress(OSError):
            f.close()
        s.close()


@contextlib.contextmanager
def query(host: str, port: int, sql: str, batch_rows: int | None = None,
          token: str | None = None, what: str = "remote query"):
    """Run read-only ``sql`` on the remote; yield the result's Arrow IPC
    stream reader (its ``.schema`` is read, its batches are not)."""
    import pyarrow as pa

    with request(host, port, op="query", sql=sql, batch_rows=batch_rows,
                 token=token) as f:
        read_status(f, what)
        yield pa.ipc.open_stream(f)


def read_count(f, what: str) -> int:
    """An ingest's reply: the appended-row count."""
    read_status(f, what)
    return _read_int(f, 8, what)


def read_progress(f, what: str) -> tuple[int, str] | None:
    """A progress op's reply: ``(watermark, incarnation)``, or None when
    no row is stored (every action but a ``get`` that found one)."""
    read_status(f, what)
    present = read_exact(f, 1, what)
    val = _read_int(f, 8, what, signed=True)
    inc = read_exact(f, _read_int(f, 2, what), what).decode()
    return (val, inc) if present == b"\x01" else None


# -- the server's half --------------------------------------------------------

def read_header(f) -> dict:
    """The request header, as the server reads it."""
    n = int.from_bytes(f.read(4), "big")
    return json.loads(f.read(n))


def write_count(f, total: int) -> None:
    f.write(OK + total.to_bytes(8, "big"))
    f.flush()


def write_progress(f, watermark: int | None, incarnation: str) -> None:
    """``watermark`` None: no row (the presence flag is 0)."""
    inc = incarnation.encode()[:65535]
    f.write(OK + bytes([watermark is not None])
            + (watermark or 0).to_bytes(8, "big", signed=True)
            + len(inc).to_bytes(2, "big") + inc)
    f.flush()


def write_error(f, exc: BaseException) -> None:
    """The error frame for ``exc``; a client that already went away is
    not an error of the server's."""
    msg = f"{type(exc).__name__}: {exc}".encode()[:65535]
    with contextlib.suppress(OSError):
        f.write(ERROR + len(msg).to_bytes(4, "big") + msg)
        f.flush()
