"""Real HTTP Firebase REST client.

The reference talks to https://<project>.firebaseio.com via the public
ktamas77/firebase-php library (src/BackupProcessor.php:32), passing REST
query params built at src/BackupProcessor.php:162-169:

    orderBy='"$key"'  limitToFirst=N  startAt='"<key>"'  shallow='true'

(orderBy/startAt values are JSON-encoded strings, per the Firebase REST
API), detects server page-size refusal by the error body
``{"error": "Payload is too large"}`` (src/BackupProcessor.php:173), and
authenticates with ``auth=<database secret>`` appended to every request
(the -k/--project_key option, src/cli-commands/AbstractCommand.php:95-114).

This client implements the same wire surface with stdlib ``http.client``
so the extractor (sources/firebase.py) runs against a live database.
One client is shared by many threads (the extract's ``parallelism``
workers, a restore's writer threads), and it keeps its connections open
between requests: a request takes an idle keep-alive connection, or
opens one, and hands it back once the response is read.  A client thus
holds at most as many connections as it has had requests in flight at
once, and on ``https`` pays one TLS handshake per connection, not per
request.  A reused connection the server has since closed is reopened
and the request sent once more (GET and merge-PATCH are idempotent).

Like ``urllib.request.urlopen``, a client honours the environment's
proxy settings (``http_proxy``, ``https_proxy``, ``no_proxy``, read when
the client is made): a plain-http request goes to the proxy with its
absolute URL, an https one through a CONNECT tunnel, with
``Proxy-Authorization`` when the proxy URL carries a user.  A GET
follows redirects (301, 302, 303, 307, 308), at most as many as
``urllib.request`` follows; a PATCH follows none, and a redirect reply
to it is an HTTP error.

Error channel: HTTP 413 or a "Payload is too large" error body raises
``PayloadTooLarge`` (the extractor's AIMD halving signal); any transport
or non-2xx failure raises ``FirebaseTransportError``, which the extractor
retries for every GET, shallow listing or page, up to GET_RETRIES
attempts.
"""

from __future__ import annotations

import base64
import http.client
import json
import urllib.parse
import urllib.request
from collections import deque
from typing import Any

from firebase_realtime_database_backup_spark.sources.firebase import (
    FirebaseTransportError,
    PayloadTooLarge,
)

_PAYLOAD_ERROR = "Payload is too large"  # src/BackupProcessor.php:173


class _Origin:
    """How requests reach one `scheme://netloc`: directly, or through
    the proxy the environment names for it."""

    def __init__(self, scheme: str, netloc: str) -> None:
        self.scheme, self.netloc = scheme, netloc
        proxy = urllib.request.getproxies().get(scheme)
        if proxy and not urllib.request.proxy_bypass(netloc):
            proxy = urllib.parse.urlsplit(
                proxy if "://" in proxy else f"http://{proxy}"
            )
            self.proxy = proxy.netloc.rpartition("@")[2]
            user = urllib.parse.unquote(proxy.username or "")
            password = urllib.parse.unquote(proxy.password or "")
            cred = base64.b64encode(f"{user}:{password}".encode()).decode()
            self.proxy_headers = (
                {"Proxy-Authorization": f"Basic {cred}"} if user else {}
            )
        else:
            self.proxy, self.proxy_headers = None, {}

    def connect(self, timeout: float) -> http.client.HTTPConnection:
        """A new connection (it connects on its first request)."""
        cls = (http.client.HTTPSConnection if self.scheme == "https"
               else http.client.HTTPConnection)
        if self.proxy is None:
            return cls(self.netloc, timeout=timeout)
        conn = cls(self.proxy, timeout=timeout)
        if self.scheme == "https":
            conn.set_tunnel(self.netloc, headers=self.proxy_headers)
        return conn

    def request(self, url: urllib.parse.SplitResult) -> tuple[str, dict]:
        """(target, headers) of a request line: a plain-http proxy takes
        the absolute URL and the proxy credentials."""
        if self.proxy is not None and self.scheme == "http":
            return urllib.parse.urlunsplit(url), self.proxy_headers
        return url.path + (f"?{url.query}" if url.query else ""), {}


class HttpFirebase:
    """``FirebaseClient`` over the Firebase REST API (http.client, stdlib),
    safe to share between threads."""

    def __init__(self, base_url: str, auth_token: str | None = None,
                 timeout: float = 30.0) -> None:
        self.base_url = base_url.rstrip("/")
        self.auth_token = auth_token or None
        self.timeout = timeout
        url = urllib.parse.urlsplit(self.base_url)
        self._origin = _Origin(url.scheme, url.netloc)
        self._idle: deque[http.client.HTTPConnection] = deque()

    def close(self) -> None:
        """Close the idle connections.  The client stays usable: a later
        request opens a new connection."""
        while self._idle:
            self._idle.pop().close()

    # -- wire helpers -----------------------------------------------------
    def _url(self, path: str, params: dict[str, str]) -> str:
        # percent-encode each segment: RTDB keys may legally contain
        # spaces, '?', '%', '&', or non-ASCII (only . $ # [ ] / are
        # forbidden) — raw interpolation would let a key like 'a?b'
        # truncate the path into the query string and silently fetch
        # the wrong node
        segs = [
            urllib.parse.quote(s, safe="")
            for s in path.strip("/").split("/")
            if s
        ]
        path = "/" + "/".join(segs)  # root -> "/.json", Firebase style
        if self.auth_token:
            params = {**params, "auth": self.auth_token}
        qs = f"?{urllib.parse.urlencode(params)}" if params else ""
        return f"{self.base_url}{path}.json{qs}"

    def _redact(self, url: str) -> str:
        """Strip the auth secret from URLs quoted in error messages."""
        if not self.auth_token:
            return url
        return url.replace(
            f"auth={urllib.parse.quote_plus(self.auth_token)}", "auth=REDACTED"
        )

    def _send(self, method: str, url: urllib.parse.SplitResult,
              body: bytes | None) -> tuple[int, bytes, str | None]:
        """(status, body, Location) of one request.  A request to the
        client's own origin takes an idle connection, or a new one, and
        hands it back; one elsewhere (a redirect) uses a connection of
        its own.  An open connection may have been closed by the server
        since its last response, which shows as ConnectionError or
        BadStatusLine: it is then reopened and the request sent once
        more."""
        own = (url.scheme, url.netloc) == (self._origin.scheme, self._origin.netloc)
        origin = self._origin if own else _Origin(url.scheme, url.netloc)
        target, headers = origin.request(url)
        if body:
            headers = {**headers, "Content-Type": "application/json"}
        try:
            conn = self._idle.pop() if own else origin.connect(self.timeout)
        except IndexError:
            conn = origin.connect(self.timeout)
        resend = conn.sock is not None
        while True:
            try:
                conn.request(method, target, body=body, headers=headers)
                resp = conn.getresponse()
                data = resp.read()
            except (ConnectionError, http.client.BadStatusLine):
                conn.close()  # the next request() reconnects
                if not resend:
                    raise
                resend = False
                continue
            except BaseException:
                conn.close()
                raise
            if own:
                self._idle.append(conn)
            else:
                conn.close()
            return resp.status, data, resp.getheader("Location")

    def _request(self, url: str, *, method: str = "GET",
                 body: bytes | None = None) -> Any:
        split = urllib.parse.urlsplit(url)
        try:
            # as many redirects as urllib.request follows
            for _ in range(urllib.request.HTTPRedirectHandler.max_redirections + 1):
                status, raw, location = self._send(method, split, body)
                if (method != "GET" or status not in (301, 302, 303, 307, 308)
                        or not location):
                    break
                url = urllib.parse.urljoin(url, location)
                split = urllib.parse.urlsplit(url)
                if split.scheme not in ("http", "https"):
                    break
        except (OSError, http.client.HTTPException) as exc:
            raise FirebaseTransportError(
                f"transport failure for {method} {self._redact(url)}: {exc}"
            ) from exc
        if status == 413:  # explicit entity-too-large status
            raise PayloadTooLarge(_PAYLOAD_ERROR)
        if not 200 <= status < 300:
            detail = raw.decode("utf-8", "replace")[:200]
            raise FirebaseTransportError(
                f"HTTP {status} for {method} {self._redact(url)}: {detail}"
            )
        data = json.loads(raw) if raw else None
        # the reference string-matches this error in a 200 body
        # (src/BackupProcessor.php:173)
        if isinstance(data, dict) and data.get("error") == _PAYLOAD_ERROR:
            raise PayloadTooLarge(_PAYLOAD_ERROR)
        return data

    # -- FirebaseClient protocol ------------------------------------------
    def get(
        self,
        path: str,
        *,
        shallow: bool = False,
        order_by_key: bool = False,
        limit_to_first: int | None = None,
        start_at: str | None = None,
    ) -> Any:
        params: dict[str, str] = {}
        if shallow:
            params["shallow"] = "true"
        if order_by_key:
            params["orderBy"] = '"$key"'
        if limit_to_first is not None:
            params["limitToFirst"] = str(limit_to_first)
        if start_at is not None:
            params["startAt"] = json.dumps(start_at)
        return self._request(self._url(path, params))

    def update(self, path: str, data: dict) -> None:
        """Merge-PATCH, Firebase update() semantics
        (src/RestoreProcessor.php:80)."""
        body = json.dumps(data).encode("utf-8")
        self._request(self._url(path, {}), method="PATCH", body=body)
