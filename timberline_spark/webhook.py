"""S8: webhook notification sink (reporting/generator.py:133-166).

The reference POSTs the daily-report summary payload to a configured
webhook URL (stubbed in its tests). Spark-side this is a DRIVER action —
one small JSON document per run, after the aggregates land — so the
implementation is plain stdlib urllib (no extra deps, nothing on the hot
path):

- ``post_report(payload, url)`` POSTs JSON with bounded retries;
- on failure (or with no URL configured) the payload is SPOOLED to a local
  directory instead of being dropped — the at-least-once stand-in for the
  reference's fire-and-forget POST, and the only honest behavior in an
  offline sandbox. The spool is published atomically (``pipeline._publish``);
- both paths are exercised in tests/test_webhook.py (a real localhost HTTP
  server for the POST path; the spool fallback via an unroutable URL).
"""

from __future__ import annotations

import json
import os
import time
import urllib.error
import urllib.request


def post_report(
    payload: dict,
    url: str | None = None,
    spool_dir: str | None = None,
    timeout: float = 5.0,
    retries: int = 2,
    backoff: float = 0.2,
) -> dict:
    """Deliver a report payload to a webhook, spooling on failure.

    Returns {"delivered": bool, "status": int|None, "spooled": path|None,
    "attempts": int}.
    """
    body = json.dumps(payload, default=str).encode("utf-8")
    attempts = 0
    status = None
    if url:
        req = urllib.request.Request(
            url, data=body, headers={"Content-Type": "application/json"}
        )
        for attempt in range(retries + 1):
            attempts = attempt + 1
            try:
                with urllib.request.urlopen(req, timeout=timeout) as resp:
                    status = resp.status
                if 200 <= status < 300:
                    return {
                        "delivered": True,
                        "status": status,
                        "spooled": None,
                        "attempts": attempts,
                    }
            except (urllib.error.URLError, OSError, ValueError):
                pass
            if attempt < retries:
                time.sleep(backoff * (2**attempt))
    spooled = None
    if spool_dir:
        from .pipeline import _publish  # lazy: the POST path needs no pyspark

        def write(tmp):
            with open(tmp, "w") as fh:
                fh.write(body.decode("utf-8"))

        run_id = payload.get("run_id", "report")
        spooled = os.path.join(spool_dir, f"webhook_{run_id}.json")
        _publish(spooled, write)
    return {
        "delivered": False,
        "status": status,
        "spooled": spooled,
        "attempts": attempts,
    }
