"""Fetcher protocol — the injected seam that replaces the reference's
two fetch paths (HTTP via curl_cffi, scrap_tokopedia.py:108-114; Selenium
browser fallback, scrap_tokopedia.py:98-106,240-250).

The reference hardcodes network clients inside scrape functions; we
invert that: a fetcher is any callable ``url -> FetchResult`` handed to
the ingest plan, so tests run on fixture HTML with zero network and
production swaps in a real client per-executor. The fallback-coalesce
semantics (HTTP first, browser when the page comes back empty/blocked —
including the reference's *intended* behavior at scrap_tokopedia.py:
137-138 where the fallback result is accidentally discarded) live in
``FallbackFetcher``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Mapping


@dataclass(frozen=True)
class FetchResult:
    url: str
    status: int
    html: str | None
    fetcher: str = "http"


Fetcher = Callable[[str], FetchResult]


class FixtureFetcher:
    """url -> canned HTML; the test-time fetcher (no network ever in
    tests, SURVEY.md §7.1). Unknown URLs return 404."""

    def __init__(self, pages: Mapping[str, str], name: str = "fixture"):
        self._pages = dict(pages)
        self._name = name

    def __call__(self, url: str) -> FetchResult:
        html = self._pages.get(url)
        if html is None:
            return FetchResult(url, 404, None, self._name)
        return FetchResult(url, 200, html, self._name)


class FallbackFetcher:
    """Cheap-path-first with expensive fallback (SURVEY.md §4): try
    ``primary``; if the status is bad or ``is_empty`` says the document
    lacks required content, retry with ``secondary`` and USE that result
    (the reference's evident intent at scrap_tokopedia.py:240-250; its
    HTTP!=200 branch at 137-138 drops the fallback result — a bug we do
    not replicate, SURVEY.md §7.4)."""

    def __init__(self, primary: Fetcher, secondary: Fetcher,
                 is_empty: Callable[[str], bool] | None = None):
        self._primary = primary
        self._secondary = secondary
        self._is_empty = is_empty

    def __call__(self, url: str) -> FetchResult:
        res = self._primary(url)
        needs_fallback = not (200 <= res.status < 300) or res.html is None or (
            self._is_empty is not None and self._is_empty(res.html))
        if needs_fallback:
            fb = self._secondary(url)
            return FetchResult(fb.url, fb.status, fb.html, f"fallback:{fb.fetcher}")
        return res


#: A transport takes (url, headers, timeout) and returns (status, body
#: bytes-or-str). It is the ONLY part of HttpFetcher that touches the
#: network, so tests inject a fake and never open a socket.
Transport = Callable[[str, Mapping[str, str], float], "tuple[int, object]"]


def _default_transport() -> "tuple[str, Transport]":
    """Best available HTTP client, preferring browser-impersonating
    clients the way the reference does (scrap_tokopedia.py:108-114 uses
    curl_cffi with ``impersonate="chrome"``): curl_cffi -> requests ->
    stdlib urllib. Returns (client_name, transport). All three are
    OPTIONAL imports — the engine, and every test, runs without any of
    them installed (urllib is stdlib, so the chain always terminates)."""
    try:
        from curl_cffi import requests as _cc  # type: ignore

        def cc_transport(url, headers, timeout):
            r = _cc.get(url, headers=dict(headers), timeout=timeout,
                        impersonate="chrome")
            return r.status_code, r.content
        return "curl_cffi", cc_transport
    except ImportError:
        pass
    try:
        import requests as _rq  # type: ignore

        def rq_transport(url, headers, timeout):
            r = _rq.get(url, headers=dict(headers), timeout=timeout)
            return r.status_code, r.content
        return "requests", rq_transport
    except ImportError:
        pass
    import urllib.error
    import urllib.request

    def urllib_transport(url, headers, timeout):
        req = urllib.request.Request(url, headers=dict(headers))
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return resp.status, resp.read()
        except urllib.error.HTTPError as e:  # non-2xx is a RESPONSE here
            return e.code, e.read()
    return "urllib", urllib_transport


class HttpFetcher:
    """Production HTTP fetcher adapter (the engine-side counterpart of
    the reference's curl_cffi GET at scrap_tokopedia.py:108-114: browser
    User-Agent, 10 s timeout). Differences from the reference, on
    purpose:

    - the network client is an injectable ``transport`` (tests pass a
      fake; production picks curl_cffi/requests/urllib automatically);
    - transient failures (exceptions, 5xx, 429) retry with exponential
      backoff instead of surfacing immediately — on a 1000-executor
      scrape a fixed fraction of requests always fails transiently;
    - non-retryable HTTP errors (404, 403, ...) return a FetchResult
      with that status and ``html=None`` so the P7 status predicate can
      filter them relationally, never an exception.

    Instances are picklable as long as the transport is (the default
    lazy transport resolves on first call, per executor)."""

    RETRYABLE = frozenset({429, 500, 502, 503, 504})

    def __init__(self, timeout: float = 10.0,
                 user_agent: str = "Mozilla/5.0",
                 max_retries: int = 2, backoff_sec: float = 0.5,
                 transport: Transport | None = None,
                 sleep: Callable[[float], None] | None = None):
        self._timeout = timeout
        self._headers = {"User-Agent": user_agent}
        self._max_retries = max_retries
        self._backoff = backoff_sec
        self._transport = transport
        self._name = "http" if transport is not None else None
        self._sleep = sleep

    def __call__(self, url: str) -> FetchResult:
        if self._transport is None:
            self._name, self._transport = _default_transport()
        if self._sleep is None:
            import time
            self._sleep = time.sleep
        status, body = 0, None
        for attempt in range(self._max_retries + 1):
            if attempt:
                self._sleep(self._backoff * (2 ** (attempt - 1)))
            try:
                status, body = self._transport(url, self._headers,
                                               self._timeout)
            except Exception:
                status, body = 0, None  # transient: retry
            if status and status not in self.RETRYABLE:
                break
        # Any 2xx is success (204/206 carry a usable — possibly empty —
        # body; all three default transports follow redirects, so a 3xx
        # reaching here is a real terminal answer, not a detour).
        if not (200 <= status < 300) or body is None:
            return FetchResult(url, status, None, self._name or "http")
        html = (body.decode("utf-8", "replace")
                if isinstance(body, (bytes, bytearray)) else str(body))
        return FetchResult(url, status, html, self._name or "http")


#: Minimal browser-driver surface BrowserFetcher needs. Selenium's
#: WebDriver satisfies it; tests inject a scripted fake — no selenium,
#: no browser, no network ever runs in-sandbox.
#:   .get(url) -> None        .execute_script(js) -> None
#:   .page_source -> str      .quit() -> None


class ScrollUntilMarker:
    """Scroll-until-content wait policy — the injectable form of the
    reference's scroll-poll loop (scrap_tokopedia.py:116-129: scroll to
    document.body.scrollHeight, sleep, re-check, bounded rounds). Lazy
    catalogs render items only as the viewport reaches them, so a
    browser fetch must scroll until the sentinel element appears (or a
    round budget is exhausted — a page that never renders the marker
    still returns, with whatever did render)."""

    SCROLL_JS = "window.scrollTo(0, document.body.scrollHeight);"

    def __init__(self, marker: str, max_rounds: int = 10,
                 pause_sec: float = 0.5,
                 sleep: Callable[[float], None] | None = None):
        self._marker = marker
        self._max_rounds = max_rounds
        self._pause = pause_sec
        self._sleep = sleep

    def __call__(self, driver) -> None:
        if self._sleep is None:
            import time
            self._sleep = time.sleep
        for _ in range(self._max_rounds):
            if self._marker in (driver.page_source or ""):
                return
            driver.execute_script(self.SCROLL_JS)
            self._sleep(self._pause)


class BrowserFetcher:
    """Production browser fetcher adapter (S3) — the engine-side
    counterpart of the reference's Selenium fallback path
    (scrap_tokopedia.py:98-106 driver setup, 116-129 scroll-poll,
    240-250 fallback usage). Design mirrors HttpFetcher: everything
    environment-dependent is injectable —

    - ``driver_factory`` builds the browser session; tests pass a fake
      driver, production defaults to lazy headless-Chrome Selenium
      (optional import — the module and all tests run without selenium
      installed);
    - ``wait`` is the render-wait policy (e.g. ScrollUntilMarker) run
      after navigation, before reading page_source.

    A fresh driver is created per call and always quit (the reference
    leaks its driver on exception, scrap_tokopedia.py:98-144; we
    don't). Failures return FetchResult(status=0, html=None) so the P7
    status predicate handles them relationally — never an exception on
    the executor."""

    def __init__(self, driver_factory: Callable[[], object] | None = None,
                 wait: Callable[[object], None] | None = None,
                 name: str = "browser"):
        self._factory = driver_factory
        self._wait = wait
        self._name = name

    @staticmethod
    def _default_factory():
        from selenium import webdriver  # type: ignore
        from selenium.webdriver.chrome.options import Options  # type: ignore
        opts = Options()
        opts.add_argument("--headless=new")
        return webdriver.Chrome(options=opts)

    def __call__(self, url: str) -> FetchResult:
        factory = self._factory or self._default_factory
        try:
            driver = factory()
        except Exception:
            return FetchResult(url, 0, None, self._name)
        try:
            driver.get(url)
            if self._wait is not None:
                self._wait(driver)
            html = driver.page_source
            if not html:
                return FetchResult(url, 0, None, self._name)
            return FetchResult(url, 200, html, self._name)
        except Exception:
            return FetchResult(url, 0, None, self._name)
        finally:
            try:
                driver.quit()
            except Exception:
                pass
