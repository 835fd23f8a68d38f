"""S8 webhook sink: real localhost POST, retry, and spool fallback."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest

from timberline_spark.webhook import post_report


class _Recorder(BaseHTTPRequestHandler):
    received: list = []
    fail_first_n = 0

    def do_POST(self):
        body = self.rfile.read(int(self.headers["Content-Length"]))
        cls = type(self)
        if cls.fail_first_n > 0:
            cls.fail_first_n -= 1
            self.send_response(503)
            self.end_headers()
            return
        cls.received.append(json.loads(body))
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):  # quiet
        pass


def _serve():
    srv = HTTPServer(("127.0.0.1", 0), _Recorder)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, f"http://127.0.0.1:{srv.server_port}/hook"


def test_webhook_posts_payload():
    srv, url = _serve()
    try:
        _Recorder.received.clear()
        res = post_report({"run_id": "w1", "summary": {"n": 3}}, url=url)
        assert res["delivered"] and res["status"] == 200
        assert _Recorder.received == [{"run_id": "w1", "summary": {"n": 3}}]
    finally:
        srv.shutdown()


def test_webhook_retries_then_delivers():
    srv, url = _serve()
    try:
        _Recorder.received.clear()
        _Recorder.fail_first_n = 1
        res = post_report({"run_id": "w2"}, url=url, retries=2, backoff=0.01)
        assert res["delivered"] and res["attempts"] == 2
        assert _Recorder.received == [{"run_id": "w2"}]
    finally:
        srv.shutdown()


def test_webhook_spools_on_unreachable(tmp_path):
    res = post_report(
        {"run_id": "w3", "summary": {"x": 1}},
        url="http://127.0.0.1:1/unroutable",
        spool_dir=str(tmp_path),
        retries=1,
        backoff=0.01,
        timeout=0.5,
    )
    assert not res["delivered"]
    assert res["spooled"] and res["attempts"] == 2
    with open(res["spooled"]) as fh:
        assert json.load(fh)["run_id"] == "w3"


def test_webhook_spool_only_no_url(tmp_path):
    res = post_report({"run_id": "w4"}, spool_dir=str(tmp_path))
    assert not res["delivered"] and res["spooled"]


def test_webhook_spool_crash_keeps_earlier_spool(tmp_path, monkeypatch):
    """A crash mid-spool (the write truncates its file, then raises) leaves
    the earlier spool of the same run_id intact and no partial file
    visible: the spool is published through a hidden temp file."""
    import builtins
    import os

    import timberline_spark.webhook as W

    first = post_report({"run_id": "w5", "n": 1}, spool_dir=str(tmp_path))
    real_open = builtins.open

    class _Crashing:
        def __init__(self, *a, **k):
            self.fh = real_open(*a, **k)

        def __enter__(self):
            return self

        def __exit__(self, *exc):
            self.fh.close()

        def write(self, s):
            self.fh.write(s[: len(s) // 2])
            self.fh.flush()
            raise OSError("disk full")

    monkeypatch.setattr(W, "open", _Crashing, raising=False)
    with pytest.raises(OSError, match="disk full"):
        post_report({"run_id": "w5", "n": 2}, spool_dir=str(tmp_path))
    monkeypatch.undo()
    visible = [n for n in os.listdir(tmp_path) if not n.startswith(".")]
    assert visible == ["webhook_w5.json"]
    with open(first["spooled"]) as fh:
        assert json.load(fh) == {"run_id": "w5", "n": 1}
