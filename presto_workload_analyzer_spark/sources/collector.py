"""Thin QueryInfo collector: Presto/Trino coordinator REST -> landing dir.

Reference collect.py:73-123. Deliberately NOT a Spark job (SURVEY.md
§2B-sources): acquisition is a low-rate HTTP poll against one coordinator —
"negligible compute-cost" by design (reference README.md:11) — so it stays
a plain-Python process that writes `<query_id>.json.gz` files into a
landing directory. Spark picks the directory up as a batch read
(sources.queryinfo.extract_queryinfo); the file-per-query layout makes the
handoff idempotent and replayable.

Parity with the reference:
  * poll `GET {coordinator}{endpoint}`, keep ids with state in
    {FINISHED, FAILED} (collect.py:90-97);
  * fetch `{endpoint}/{id}?pretty` per new id, sorted, with a per-request
    rate-limit delay (collect.py:100-111);
  * file-existence dedup — never re-download an id (collect.py:101-103);
  * gzip sink `<id>.json.gz` (collect.py:116-117);
  * `--loop/--loop-delay` continuous mode (collect.py:119-122);
  * auth: `X-Trino-User`/`X-Presto-User` headers, optional basic auth and
    TLS-verification opt-out (collect.py:32-61).

Uses only the standard library (urllib/ssl) — the reference's `requests`
dependency is not needed for two GET shapes.
"""

from __future__ import annotations

import base64
import gzip
import json
import logging
import pathlib
import ssl
import time
import urllib.error
import urllib.request

log = logging.getLogger("pwa.collect")

DONE_STATES = frozenset({"FINISHED", "FAILED"})
USER_HEADERS = ("X-Trino-User", "X-Presto-User")


class Client:
    """Minimal authed HTTP GET client (reference collect.py:32-61)."""

    def __init__(
        self,
        username: str | None = None,
        password: str | None = None,
        certificate_verification: bool = True,
        username_request_header: str | None = None,
    ):
        self._headers: dict[str, str] = {}
        if username_request_header:
            if username_request_header not in USER_HEADERS:
                log.warning(
                    "client-request-header %r is not X-Trino-User or X-Presto-User; "
                    "collecting JSONs might fail",
                    username_request_header,
                )
            self._headers[username_request_header] = "analyzer"
        else:
            for h in USER_HEADERS:
                self._headers[h] = "analyzer"
        if username and password:
            token = base64.b64encode(f"{username}:{password}".encode()).decode()
            self._headers["Authorization"] = f"Basic {token}"
        self._ctx = None
        if not certificate_verification:
            self._ctx = ssl.create_default_context()
            self._ctx.check_hostname = False
            self._ctx.verify_mode = ssl.CERT_NONE

    def get(self, url: str) -> bytes | None:
        req = urllib.request.Request(url, headers=self._headers)
        try:
            with urllib.request.urlopen(req, context=self._ctx, timeout=60) as resp:
                return resp.read()
        except urllib.error.HTTPError as e:
            log.warning("HTTP %s %s for url: %s", e.code, e.reason, url)
            return None


def collect_once(
    client: Client,
    endpoint: str,
    output_dir: pathlib.Path,
    delay: float = 0.1,
) -> list[str]:
    """One poll cycle; returns the newly-downloaded query ids."""
    body = client.get(endpoint)
    if body is None:
        return []
    ids = [q["queryId"] for q in json.loads(body) if q.get("state") in DONE_STATES]
    log.debug("found %d completed queries", len(ids))

    downloaded = []
    for query_id in sorted(ids):
        output_file = output_dir / f"{query_id}.json.gz"
        if output_file.exists():  # dedup by file existence (collect.py:101-103)
            continue
        url = f"{endpoint}/{query_id}?pretty"
        time.sleep(delay)  # rate limit (collect.py:106)
        log.info("downloading %s -> %s", url, output_file)
        try:
            content = client.get(url)
            if content is None:
                continue
        except Exception:
            log.exception("failed to download %s", query_id)
            continue
        with gzip.open(output_file, "wb") as f:
            f.write(content)
        downloaded.append(query_id)
    return downloaded


def collect(
    coordinator: str = "http://localhost:8080",
    query_endpoint: str = "/v1/query",
    output_dir: str | pathlib.Path = "JSONs",
    delay: float = 0.1,
    loop: bool = False,
    loop_delay: float = 1.0,
    client: Client | None = None,
) -> int:
    """Poll-and-download loop (reference collect.py:90-122): a single
    pass, or forever with loop=True. Returns total downloads.
    """
    client = client or Client()
    endpoint = f"{coordinator}{query_endpoint}"
    out = pathlib.Path(output_dir)
    out.mkdir(parents=True, exist_ok=True)

    total = 0
    while True:
        total += len(collect_once(client, endpoint, out, delay=delay))
        if not loop:
            return total
        time.sleep(loop_delay)
