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

This client implements the same wire surface with stdlib ``urllib`` so
the extractor (sources/firebase.py) runs against a live database.  It is
deliberately state-free and picklable — (base_url, token, timeout) are
plain strings/numbers — so a restore's ``client_factory`` can build one
per writer thread at no cost (``sinks.writeback``).

Error channel: HTTP 413 or a "Payload is too large" error body raises
``PayloadTooLarge`` (the extractor's AIMD halving signal); any transport
or non-2xx failure raises ``FirebaseTransportError``, which the extractor
retries for every GET, shallow listing or page, up to GET_RETRIES
attempts.
"""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request
from typing import Any

from firebase_realtime_database_backup_spark.sources.firebase import (
    FirebaseTransportError,
    PayloadTooLarge,
)

_PAYLOAD_ERROR = "Payload is too large"  # src/BackupProcessor.php:173


class HttpFirebase:
    """``FirebaseClient`` over the Firebase REST API (urllib, stdlib)."""

    def __init__(self, base_url: str, auth_token: str | None = None,
                 timeout: float = 30.0) -> None:
        self.base_url = base_url.rstrip("/")
        self.auth_token = auth_token or None
        self.timeout = timeout

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

    def _request(self, url: str, *, method: str = "GET",
                 body: bytes | None = None) -> Any:
        req = urllib.request.Request(
            url, data=body, method=method,
            headers={"Content-Type": "application/json"} if body else {},
        )
        try:
            with urllib.request.urlopen(req, timeout=self.timeout) as resp:
                raw = resp.read()
        except urllib.error.HTTPError as exc:
            if exc.code == 413:  # explicit entity-too-large status
                raise PayloadTooLarge(_PAYLOAD_ERROR) from exc
            detail = exc.read().decode("utf-8", "replace")[:200]
            raise FirebaseTransportError(
                f"HTTP {exc.code} for {method} {self._redact(url)}: {detail}"
            ) from exc
        except (urllib.error.URLError, OSError, TimeoutError) as exc:
            raise FirebaseTransportError(
                f"transport failure for {method} {self._redact(url)}: {exc}"
            ) from exc
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
