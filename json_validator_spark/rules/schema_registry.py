"""Multi-document schema registry — the ``LocalSchemaCache`` analogue.

The reference preloads a shared ``$id → local path`` map at startup
(``LocalSchemaCache.java:62-73`` initialise, ``:99-132``
readSchemaIdsAndPaths: file-or-directory config entries, directories
scanned recursively for ``*.json`` to depth 10, files without an
``$id`` skipped with a warning) and resolves every ``$ref`` URI against
that map FIRST — only a cache miss goes to the (authorized) network
(``LocalSchemaResolver.java:71-85``). This module reproduces those
semantics driver-side: the registry is a plain ``$id → schema
document`` dict built before compilation, resolution normalizes IDs the
same way the reference does (a ``#`` is appended when missing,
``LocalSchemaCache.java:140-143`` schemaKey), preloaded documents
always win, and the network fallback is an explicit opt-in ``fetcher``
hook — absent by default, so tests and production imports are
airtight-offline exactly like the reference's restricted mode.

Scale note: the registry lives entirely on the driver and feeds
``ruleset_from_json_schema``, which compiles the closed set of
referenced fragments into the flat ``definitions`` map shipped to
executors as plan constants — schema-set size is config-scale (KBs),
never data-scale, so nothing here touches the distributed plan.
"""

from __future__ import annotations

import json
import urllib.request
from pathlib import Path
from typing import Any, Callable


class SchemaRegistry:
    """``$id → schema document`` map with reference-equivalent lookup.

    - ``register`` / ``add_path`` preload documents (preload wins over
      any fetcher, like the reference's local-first resolution);
    - ``resolve`` normalizes the URI (trailing ``#`` optional on both
      sides) and returns the raw document dict;
    - unresolvable IDs raise ``KeyError`` with the known-ID inventory —
      the error-shaping the reference logs on failed lookups.
    """

    def __init__(
        self,
        fetcher: Callable[[str], dict[str, Any]] | None = None,
        allowed_uri_prefixes: "list[str] | None" = None,
    ) -> None:
        self._docs: dict[str, dict[str, Any]] = {}
        self._fetcher = fetcher
        # authorize-then-fetch, LocalSchemaResolver.java:76-79: a cache
        # miss builds the absolute URI and asks the ImportedUriAuthorizer
        # BEFORE any network I/O. None = authorizer absent (every URI the
        # fetcher can serve is allowed); a list = only URIs matching one
        # of these prefixes may reach the fetcher.
        self._allowed_uri_prefixes = allowed_uri_prefixes

    @staticmethod
    def _key(uri: str) -> str:
        # LocalSchemaCache.schemaKey appends '#' when missing so
        # "https://x/s.json" and "https://x/s.json#" hit the same entry
        return uri if uri.endswith("#") else uri + "#"

    @staticmethod
    def _doc_id(schema: dict[str, Any]) -> "str | None":
        """The document's self-declared identifier: ``$id`` (draft-6+),
        or draft-4's ``id`` when the root ``$schema`` declares that
        dialect (networknt's V4 mode resolves ``id`` the same way —
        the importer rewrites it to ``$id`` at compile,
        ``schema_import._dialect_step``)."""
        sid = schema.get("$id")
        if isinstance(sid, str) and sid:
            return sid
        s = schema.get("$schema")
        if isinstance(s, str) and "draft-04" in s:
            sid = schema.get("id")
            if isinstance(sid, str) and sid:
                return sid
        return None

    def register(self, schema: dict[str, Any]) -> str:
        """Preload one schema document; returns its normalized ``$id``
        (draft-4 documents may declare it as ``id``). A document without
        one is un-addressable and raises (the reference skips such files
        with a warning at directory scan — ``add_path`` does that; an
        explicit register is a hard error)."""
        sid = self._doc_id(schema)
        if sid is None:
            raise ValueError("schema document has no $id — cannot register")
        self._docs[self._key(sid)] = schema
        return self._key(sid)

    def add_path(self, path: str | Path) -> list[str]:
        """Preload a file, or a directory scanned recursively for
        ``*.json`` (depth ≤ 10 — ``LocalSchemaCache.java:119`` uses the
        same bound). Files without an ``$id`` are skipped (reference
        logs a warning and continues). Returns registered IDs."""
        p = Path(path)
        files: list[Path]
        if p.is_file():
            files = [p]
        elif p.is_dir():
            files = [
                f
                for f in sorted(p.rglob("*.json"))
                if len(f.relative_to(p).parts) <= 10
            ]
        else:
            raise FileNotFoundError(f"shared-schema path not found: {p}")
        out = []
        for f in files:
            try:
                doc = json.loads(f.read_text())
            except (OSError, json.JSONDecodeError) as e:
                raise ValueError(f"unreadable shared schema [{f}]: {e}") from e
            if isinstance(doc, dict) and self._doc_id(doc) is not None:
                out.append(self.register(doc))
        return out

    @classmethod
    def from_paths(
        cls,
        paths: "list[str | Path]",
        fetcher: Callable[[str], dict[str, Any]] | None = None,
        allowed_uri_prefixes: "list[str] | None" = None,
    ) -> "SchemaRegistry":
        reg = cls(fetcher=fetcher, allowed_uri_prefixes=allowed_uri_prefixes)
        for p in paths:
            reg.add_path(p)
        return reg

    def __contains__(self, uri: str) -> bool:
        return self._key(uri) in self._docs

    def resolve(self, uri: str) -> dict[str, Any]:
        """Local-first lookup; on a miss, the fetcher (if any) is asked
        once and its result cached; otherwise raise with the inventory."""
        key = self._key(uri)
        if key in self._docs:
            return self._docs[key]
        if self._fetcher is not None:
            if self._allowed_uri_prefixes is not None and not any(
                uri.startswith(p) for p in self._allowed_uri_prefixes
            ):
                raise PermissionError(
                    f"remote $ref target {uri!r} not authorized: outside the "
                    f"allowed URI prefixes {self._allowed_uri_prefixes!r} "
                    "(authorize-then-fetch, LocalSchemaResolver.java:78)"
                )
            doc = self._fetcher(uri)
            if not isinstance(doc, dict):
                raise ValueError(f"fetcher returned a non-object schema for {uri!r}")
            self._docs[key] = doc
            return doc
        known = sorted(self._docs) or ["<none>"]
        raise KeyError(
            f"unresolvable $ref target {uri!r}: not in the preloaded schema set "
            f"(known $ids: {', '.join(known)}) and no remote fetcher is "
            "configured (offline mode — the reference's restricted resolution)"
        )


def http_fetcher(
    allowed_uri_prefixes: "list[str]",
    *,
    timeout_s: float = 10.0,
    max_bytes: int = 4 << 20,
) -> Callable[[str], dict[str, Any]]:
    """Opt-in stdlib remote-``$ref`` fetcher — the out-of-box half of
    the reference's resolution the offline registry deliberately lacks
    (``LocalSchemaResolver.java:71-85`` cache-miss network fetch, gated
    by the ``ImportedUriAuthorizer`` at ``:76-79``). Only constructible
    with a NON-EMPTY explicit prefix allowlist: the fetcher re-checks
    the prefix itself, and again on every redirect hop (defense in
    depth — the registry's authorize-then-fetch gate is the primary
    check and never sees redirects), enforces a
    wall-clock timeout and a response size cap, requires http(s), and
    accepts only a JSON object body. Driver-side, config-scale: one
    fetch per distinct URI, cached by ``SchemaRegistry.resolve``.

    Use::

        reg = SchemaRegistry(
            fetcher=http_fetcher(prefixes), allowed_uri_prefixes=prefixes)
    """
    prefixes = list(allowed_uri_prefixes or [])
    if not prefixes:
        raise ValueError(
            "http_fetcher requires an explicit non-empty allowed_uri_prefixes "
            "list (the ImportedUriAuthorizer contract — no open-ended fetching)"
        )
    for p in prefixes:
        if not (p.startswith("http://") or p.startswith("https://")):
            raise ValueError(
                f"allowed URI prefix {p!r} must start with http:// or https://"
            )

    def authorize(uri: str, what: str) -> None:
        if not any(uri.startswith(p) for p in prefixes):
            raise PermissionError(
                f"{what} {uri!r} not authorized: outside the "
                f"allowed URI prefixes {prefixes!r} "
                "(authorize-then-fetch, LocalSchemaResolver.java:78)"
            )

    class AuthorizedRedirects(urllib.request.HTTPRedirectHandler):
        # every 3xx hop is re-authorized before it is requested: the
        # default opener would follow a redirect to any host
        def redirect_request(self, req, fp, code, msg, headers, newurl):
            authorize(newurl, f"redirect ({code}) from {req.full_url!r} to")
            return super().redirect_request(req, fp, code, msg, headers, newurl)

    opener = urllib.request.build_opener(AuthorizedRedirects)

    def fetch(uri: str) -> dict[str, Any]:
        authorize(uri, "remote $ref target")
        req = urllib.request.Request(
            uri, headers={"Accept": "application/json"})
        with opener.open(req, timeout=timeout_s) as resp:
            body = resp.read(max_bytes + 1)
        if len(body) > max_bytes:
            raise ValueError(
                f"remote schema {uri!r} exceeds the {max_bytes}-byte size cap"
            )
        try:
            doc = json.loads(body)
        except json.JSONDecodeError as e:
            raise ValueError(f"remote schema {uri!r} is not valid JSON: {e}") from e
        if not isinstance(doc, dict):
            raise ValueError(f"remote schema {uri!r} is not a JSON object")
        return doc

    return fetch
