"""Production HTTP transport for the REST sources (SURVEY §2.1, S1-S7).

``sources.rest`` keeps transport injectable (callable ``(url, params) ->
parsed JSON``) so the pagination/fan-out logic stays hermetic under test;
this module is the production side of that seam — a ``requests``-backed
adapter with the auth protocols the reference actually uses:

- **Bearer token header** — lexoffice/hubspot/stripe style
  (``dags/lex_office/lex_office_invoice_items.py:195-199``:
  ``Authorization: Bearer <token>``).
- **OAuth2 password grant** — billwerk style
  (``dags/billwerk/biilwerk_contracts.py:36-48``: POST to the token URL
  with ``grant_type=password`` + user credentials, client id/secret as
  HTTP basic auth, token from the JSON response), with automatic refresh
  when a request comes back 401.
- **Static header/basic auth** — bexio-style fixed API headers.

Retry semantics match ``rest.RetryPolicy``'s contract: 429/5xx raise
``RetryableError`` (the policy backs off and re-calls), other 4xx raise
immediately (a 404/403 will never succeed on retry — matching the
reference's ``Retry(status_forcelist=[429, 500, 502, 503, 504])``,
``lex_office_invoice_items.py:177``).

The adapter is picklable (sessions are rebuilt lazily per process), so it
rides into ``fanout_fetch``'s ``mapInPandas`` workers unchanged — each
executor gets its own connection pool, which is exactly what you want on a
1000-executor cluster: connection reuse within a worker, no shared driver
socket. ``requests`` itself is imported lazily so the hermetic test path
never needs it installed.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from typing import Any

from .rest import RetryableError

#: Status codes that are worth retrying (transient server/ratelimit).
RETRYABLE_STATUSES = frozenset({429, 500, 502, 503, 504})


def _requests():
    try:
        import requests
    except ImportError as e:  # pragma: no cover - env without requests
        raise ImportError(
            "http_transport needs the 'requests' package; the hermetic "
            "test path (fixture transports) does not — see sources.rest"
        ) from e
    return requests


class AuthProvider:
    """Auth strategy: contributes headers; may react to a 401 by refreshing."""

    def headers(self) -> dict[str, str]:
        return {}

    def on_unauthorized(self) -> bool:
        """Called after a 401. Return True if credentials were refreshed and
        the request should be retried once."""
        return False


@dataclass
class BearerTokenAuth(AuthProvider):
    """Static bearer token (reference: lexoffice/stripe/hubspot headers)."""

    token: str

    def headers(self) -> dict[str, str]:
        return {"Authorization": f"Bearer {self.token}"}


@dataclass
class OAuthPasswordGrant(AuthProvider):
    """OAuth2 resource-owner-password grant with lazy fetch + 401 refresh
    (reference: ``get_access_token``, biilwerk_contracts.py:36-48)."""

    token_url: str
    username: str
    password: str
    client_id: str
    client_secret: str
    timeout: float = 30.0
    _token: str | None = field(default=None, repr=False)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def _fetch_token(self) -> str:
        resp = _requests().post(
            self.token_url,
            data={
                "grant_type": "password",
                "username": self.username,
                "password": self.password,
            },
            auth=(self.client_id, self.client_secret),
            timeout=self.timeout,
        )
        if resp.status_code in RETRYABLE_STATUSES:
            raise RetryableError(f"token endpoint {resp.status_code}")
        resp.raise_for_status()
        return resp.json()["access_token"]

    def headers(self) -> dict[str, str]:
        with self._lock:
            if self._token is None:
                self._token = self._fetch_token()
            return {"Authorization": f"Bearer {self._token}"}

    def on_unauthorized(self) -> bool:
        with self._lock:
            self._token = self._fetch_token()
        return True

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_lock"] = None
        state["_token"] = None  # workers fetch their own token
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()


@dataclass
class HttpTransport:
    """``requests``-backed ``(url, params) -> parsed JSON`` transport.

    Raises ``rest.RetryableError`` on 429/5xx so ``rest.RetryPolicy``
    drives backoff; refreshes auth once on 401; raises on other 4xx.
    One ``requests.Session`` per process (connection pooling), rebuilt
    after pickling into executors.
    """

    auth: AuthProvider | None = None
    timeout: float = 30.0
    extra_headers: dict[str, str] = field(default_factory=dict)
    _session: Any = field(default=None, repr=False)

    def _get_session(self):
        if self._session is None:
            self._session = _requests().Session()
        return self._session

    def _headers(self) -> dict[str, str]:
        headers = {"Accept": "application/json", **self.extra_headers}
        if self.auth is not None:
            headers.update(self.auth.headers())
        return headers

    def _request(self, method: str, url: str, **kwargs) -> Any:
        """The ONE retry/auth/parse contract behind both verbs (a prior
        GET/POST copy-paste let the two drift): refresh auth once on 401,
        map 429/5xx to RetryableError, raise on other 4xx, and treat a
        body-less success (204 No Content — common from reverse-ETL
        accept endpoints) as None instead of crashing in ``.json()``
        (retrying a successful-but-empty acknowledgement would double-
        deliver the batch)."""
        send = getattr(self._get_session(), method)
        resp = send(url, headers=self._headers(), timeout=self.timeout, **kwargs)
        if resp.status_code == 401 and self.auth and self.auth.on_unauthorized():
            resp = send(
                url, headers=self._headers(), timeout=self.timeout, **kwargs
            )
        if resp.status_code in RETRYABLE_STATUSES:
            raise RetryableError(f"{method.upper()} {url} -> {resp.status_code}")
        resp.raise_for_status()
        if resp.status_code == 204 or not resp.content:
            return None
        return resp.json()

    def __call__(self, url: str, params: dict | None = None) -> Any:
        return self._request("get", url, params=params or {})

    def post(self, url: str, json_body: Any) -> Any:
        """Reverse-ETL POST (K8 sink side, sinks.reverse): same retry/auth
        contract as GET."""
        return self._request("post", url, json=json_body)

    def __getstate__(self):
        state = self.__dict__.copy()
        state["_session"] = None  # sessions are per-process, not picklable
        return state


def example_billwerk_transport() -> "HttpTransport":
    """Config-file transport factory (see ``examples/billwerk_job.json``):
    OAuth2 password grant with credentials from the environment — the
    production side of the injectable seam. A job config referencing
    ``{"$transport": "bi_gcp_stitch_repl_spark.sources.http_transport:
    example_billwerk_transport"}`` resolves to this constructed transport
    at job start (``jobs/__main__.py::_resolve``)."""
    import os

    return HttpTransport(
        auth=OAuthPasswordGrant(
            token_url=os.environ["BILLWERK_TOKEN_URL"],
            username=os.environ["BILLWERK_USERNAME"],
            password=os.environ["BILLWERK_PASSWORD"],
            client_id=os.environ["BILLWERK_CLIENT_ID"],
            client_secret=os.environ["BILLWERK_CLIENT_SECRET"],
        )
    )


def example_sheets_transport() -> "HttpTransport":
    """Config-file transport factory for the sheet-import jobs (see
    ``examples/cease_date_job.json``): a bearer-token Sheets values API
    client with the token from the environment (the deployment's secret
    manager exports it; the engine never fetches secrets itself —
    SURVEY §2 S11 note)."""
    import os

    return HttpTransport(
        extra_headers={
            "Authorization": f"Bearer {os.environ['SHEETS_API_TOKEN']}"
        }
    )
