"""In-memory parser registry: symbol tables + inverted index + stop words.

Pure-Python re-expression of the reference registry
(reference: src/parser_registry.rs:10-315 and src/symbol_table.rs:9-76).
This object is what gets *broadcast* to every Spark executor; it is built
on the driver from ordered ``(tokens, resolved, rank)`` rows by
:meth:`Registry.extend`, its one constructor.

Data layout (columns, not per-row Python objects — a broadcast registry is
unpickled in every Python worker, where 10^5 entries as lists, tuples and
ints cost tens of MB):

- ``tokens``: Arrow string column, the token strings in id order; ids are
  dense and assigned in first-appearance order over the gazetteer scanned
  rank-major/position-minor (reference: src/symbol_table.rs:17-27 — BTreeMap
  + monotonic counter). It is also the id -> token inverse.
- ``token_ids``: dict token-string -> token id, the one per-token Python
  structure; rebuilt from ``tokens`` on unpickle, never shipped.
- ``entity_tokens``: int32 :class:`Csr`; row ``ev`` holds the token ids of
  entity ``ev``'s raw value in order (reference: src/parser_registry.rs:21
  ``resolved_value_to_tokens: Vec<(Rank, Vec<u32>)>``).
- ``entity_rank``: Arrow int64 column, per entity id its popularity rank
  (NULL where the gazetteer row had none).
- ``resolved``: Arrow string column, per entity id the resolved (canonical)
  string. The same canonical string gets a **fresh id per alias**
  (reference: src/symbol_table.rs:49-57 ResolvedSymbolTable allows
  duplicates; src/parser_registry.rs:43-45 "We force add the new resolved
  value").
- ``postings``: int32 :class:`Csr` indexed by token id; each row holds the
  ascending, deduplicated ids of the entities containing that token
  (reference: src/parser_registry.rs:19 ``token_to_resolved_values:
  Vec<BTreeSet<u32>>``). Derived from ``entity_tokens`` whenever that
  changes (and on unpickle), so it is never shipped either. Tokens no entity
  contains (additional stop words) have empty rows.
- ``stop_words`` / ``edge_cases`` / ``injected``: small frozensets of token
  ids / entity ids (reference: src/parser_registry.rs:27-31).

Row accessors (``entity_tokens[ev]``, ``postings[tid]``, :meth:`get_tokens`,
:meth:`get_resolved_value`) build Python objects per call; the kernel reads
them through per-worker memos (see .parser).
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


class Csr:
    """Rows of int32 ids stored flat: row ``i`` is
    ``values[offsets[i]:offsets[i + 1]]``. Indexing and iteration yield
    tuples of Python ints."""

    __slots__ = ("offsets", "values")

    def __init__(self, offsets: np.ndarray, values: np.ndarray) -> None:
        self.offsets = offsets
        self.values = values

    def __len__(self) -> int:
        return len(self.offsets) - 1

    def __getitem__(self, i: int) -> tuple[int, ...]:
        return tuple(self.values[self.offsets[i] : self.offsets[i + 1]].tolist())

    def __iter__(self):
        values = self.values
        off = self.offsets.tolist()
        return (tuple(values[a:b].tolist()) for a, b in zip(off, off[1:]))

    def lengths(self) -> np.ndarray:
        return np.diff(self.offsets)

    def owners(self) -> np.ndarray:
        """The row index of each value."""
        return np.repeat(np.arange(len(self)), self.lengths())

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Csr):
            return NotImplemented
        return np.array_equal(self.offsets, other.offsets) and np.array_equal(
            self.values, other.values
        )


def _index(entity_tokens: Csr, n_tokens: int) -> Csr:
    """Postings from the entity-token CSR: the distinct (token, entity) pairs
    in sorted order, i.e. per token its ascending entity ids, with a token's
    repeats inside one value dropped (BTreeSet semantics)."""
    pairs = np.unique(
        (entity_tokens.values.astype(np.int64) << 32) | entity_tokens.owners()
    )
    offsets = np.zeros(n_tokens + 1, np.int32)
    np.cumsum(np.bincount(pairs >> 32, minlength=n_tokens), out=offsets[1:])
    return Csr(offsets, (pairs & 0xFFFFFFFF).astype(np.int32))


def _concat(column: pa.Array, values: list) -> pa.Array:
    return pa.concat_arrays([column, pa.array(values, column.type)])


def pylist(column: pa.Array) -> list:
    """``column.to_pylist()``, through numpy where no NULL forces the slow
    per-element path."""
    if column.null_count:
        return column.to_pylist()
    return column.to_numpy(zero_copy_only=False).tolist()


class Registry:
    __slots__ = (
        "tokens",
        "token_ids",
        "entity_tokens",
        "entity_rank",
        "resolved",
        "postings",
        "n_stop_words",
        "additional_stop_words",
        "stop_words",
        "edge_cases",
        "injected",
    )

    def __init__(self) -> None:
        self._install(
            pa.array([], pa.string()),
            Csr(np.zeros(1, np.int32), np.zeros(0, np.int32)),
            pa.array([], pa.int64()),
            pa.array([], pa.string()),
            {},
        )
        self.n_stop_words: int = 0
        self.additional_stop_words: tuple[int, ...] = ()
        self.stop_words: frozenset[int] = frozenset()
        self.edge_cases: frozenset[int] = frozenset()
        self.injected: frozenset[int] = frozenset()

    def _install(
        self,
        tokens: pa.Array,
        entity_tokens: Csr,
        entity_rank: pa.Array,
        resolved: pa.Array,
        token_ids: dict[str, int] | None = None,
    ) -> None:
        """Set the columns and derive the token dict (unless given) and the
        postings from them."""
        self.tokens = tokens
        self.entity_tokens = entity_tokens
        self.entity_rank = entity_rank
        self.resolved = resolved
        if token_ids is None:
            token_ids = {tok: tid for tid, tok in enumerate(pylist(tokens))}
        self.token_ids = token_ids
        self.postings = _index(entity_tokens, len(tokens))

    def __getstate__(self):
        # token_ids and postings are derived: shipping them would cost more
        # bytes and a larger unpickle than rebuilding them
        return (
            self.tokens,
            self.entity_tokens.offsets,
            self.entity_tokens.values,
            self.entity_rank,
            self.resolved,
            self.n_stop_words,
            self.additional_stop_words,
            self.stop_words,
            self.edge_cases,
            self.injected,
        )

    def __setstate__(self, state) -> None:
        tokens, offsets, values, rank, resolved, *rest = state
        self._install(tokens, Csr(offsets, values), rank, resolved)
        (
            self.n_stop_words,
            self.additional_stop_words,
            self.stop_words,
            self.edge_cases,
            self.injected,
        ) = rest

    # ------------------------------------------------------------------ build

    def _intern(self, tokens: Iterable[str], new_tokens: list[str]) -> list[int]:
        """Token ids of ``tokens``, interning unseen ones after the existing
        ids (reference: src/symbol_table.rs:17-27 add_symbol); the unseen
        strings are appended to ``new_tokens`` in id order."""
        token_ids = self.token_ids
        out = []
        for token in tokens:
            tid = token_ids.get(token)
            if tid is None:
                tid = token_ids[token] = len(token_ids)
                new_tokens.append(token)
            out.append(tid)
        return out

    def extend(self, rows: Iterable[tuple[list[str], str, int]]) -> list[int | None]:
        """Append ordered ``(tokens, resolved_value, rank)`` rows as new
        entities, interning unseen tokens after the existing ones, so
        existing token and entity ids stay stable. The bulk constructor every
        row-based build goes through; ``Registry().extend(rows)`` is a fresh
        build. Returns each row's new entity id, None for empty values
        (reference: src/parser_registry.rs:38-65). Duplicate resolved strings
        always get a fresh entity id (multi-alias support). Stop words and
        edge cases are left to the caller to recompute."""
        new_tokens: list[str] = []
        flat: list[int] = []
        ends: list[int] = []
        resolved: list[str] = []
        ranks: list[int] = []
        ids: list[int | None] = []
        et = self.entity_tokens
        base, ev = int(et.offsets[-1]), len(et)
        for tokens, resolved_value, rank in rows:
            if not tokens:
                ids.append(None)
                continue
            flat += self._intern(tokens, new_tokens)
            ends.append(base + len(flat))
            resolved.append(resolved_value)
            ranks.append(rank)
            ids.append(ev)
            ev += 1
        self._install(
            _concat(self.tokens, new_tokens),
            Csr(
                np.concatenate([et.offsets, np.asarray(ends, np.int32)]),
                np.concatenate([et.values, np.asarray(flat, np.int32)]),
            ),
            _concat(self.entity_rank, ranks),
            _concat(self.resolved, resolved),
            self.token_ids,
        )
        return ids

    def add_value(self, tokens: list[str], resolved_value: str, rank: int) -> int | None:
        """Register one value; see :meth:`extend`."""
        return self.extend([(tokens, resolved_value, rank)])[0]

    def prepend_values(self, values: list[tuple[list[str], str]]) -> list[int]:
        """Prepend tokenized values; rebase existing ranks by +n and recompute
        stop words (reference: src/parser_registry.rs:69-84)."""
        n = len(values)
        self.entity_rank = pc.add(self.entity_rank, pa.scalar(n, pa.int64()))
        ids = self.extend(
            (tokens, resolved_value, rank)
            for rank, (tokens, resolved_value) in enumerate(values)
        )
        self.set_top_stop_words(self.n_stop_words)
        return [ev for ev in ids if ev is not None]

    # ------------------------------------------------------------- stop words

    def _intern_words(self, words: Iterable[str]) -> list[int]:
        """Intern words that may be absent from the gazetteer — such tokens
        get an empty postings row so every tid indexes postings safely."""
        new_tokens: list[str] = []
        tids = self._intern(words, new_tokens)
        if new_tokens:
            self._install(
                _concat(self.tokens, new_tokens),
                self.entity_tokens,
                self.entity_rank,
                self.resolved,
                self.token_ids,
            )
        return tids

    def _recompute_edge_cases(self) -> None:
        """Edge cases = entities all of whose tokens are stop words — a
        deterministic function of the current stop-word set
        (reference: src/parser_registry.rs:159-166)."""
        et = self.entity_tokens
        is_stop = np.zeros(len(self.tokens), bool)
        is_stop[list(self.stop_words)] = True
        n_other = np.bincount(et.owners()[~is_stop[et.values]], minlength=len(et))
        self.edge_cases = frozenset(np.flatnonzero(n_other == 0).tolist())

    def set_stop_words(
        self, n_stop_words: int, additional_stop_words: list[str] | None = None
    ) -> None:
        """Intern additional stop words then recompute the top-n set
        (reference: src/parser_registry.rs:118-139)."""
        self.additional_stop_words = tuple(
            self._intern_words(additional_stop_words or [])
        )
        self.set_top_stop_words(n_stop_words)

    def set_top_stop_words(self, n_stop_words: int) -> None:
        """Stop words = top-n tokens by number of distinct entities containing
        them, ties broken by lower token id (Rust stable sort on -count,
        reference: src/parser_registry.rs:141-157), union the additional
        words."""
        self.n_stop_words = n_stop_words
        order = np.argsort(-self.postings.lengths(), kind="stable")
        top = order[:n_stop_words].tolist()
        self.stop_words = frozenset(top) | frozenset(self.additional_stop_words)
        self._recompute_edge_cases()

    def restore_stop_words(
        self,
        n_stop_words: int,
        stop_words: list[str],
        additional_stop_words: list[str],
    ) -> None:
        """Restore a PERSISTED stop-word set verbatim instead of recomputing
        the top-n: after prepend/injection the interning order (and therefore
        the doc-frequency tie-break) of a rebuilt registry can differ from
        the live parser's, so a load that recomputes may flip a tie and
        resolve differently than the parser that was dumped. The persisted
        set is the behavior contract; edge cases are re-derived from it."""
        self.n_stop_words = n_stop_words
        self.additional_stop_words = tuple(self._intern_words(additional_stop_words))
        self.stop_words = frozenset(self._intern_words(stop_words))
        self._recompute_edge_cases()

    # -------------------------------------------------------------- injection

    def inject_new_values(
        self,
        new_values: list[tuple[list[str], str]],
        prepend: bool,
        from_vanilla: bool,
    ) -> "Registry":
        """Entity injection: reconstruct the gazetteer (optionally dropping
        previously injected rows), splice the new values in with rank
        rebasing, and rebuild the registry from scratch, recomputing stop
        words with the stored n + additional words
        (reference: src/parser_registry.rs:199-254). Provenance of previous
        injections survives non-vanilla injects through the rows'
        is_injected flags (the rebuild reassigns entity ids)."""
        base = [
            (toks, res, inj)
            for toks, res, inj, _rank in self.get_entity_values(
                include_injected=not from_vanilla
            )
        ]
        cleaned = [(toks, res, True) for toks, res in new_values if toks]
        rows = cleaned + base if prepend else base + cleaned

        new = Registry()
        ids = new.extend((toks, res, rank) for rank, (toks, res, _inj) in enumerate(rows))
        new.injected = frozenset(ev for ev, row in zip(ids, rows) if row[2])
        additional = [self.token_string(t) for t in self.additional_stop_words]
        new.set_stop_words(self.n_stop_words, additional)
        return new

    def get_entity_values(
        self, include_injected: bool
    ) -> list[tuple[list[str], str, bool, int]]:
        """Invert the registry back to (tokens, resolved, is_injected, rank)
        rows sorted by rank (reference: src/parser_registry.rs:259-290)."""
        tokens = pylist(self.tokens)
        out = [
            ([tokens[t] for t in toks], res, ev in self.injected, rank)
            for ev, (toks, res, rank) in enumerate(
                zip(
                    self.entity_tokens,
                    pylist(self.resolved),
                    pylist(self.entity_rank),
                )
            )
            if include_injected or ev not in self.injected
        ]
        out.sort(key=lambda row: row[3])
        return out

    # ---------------------------------------------------------------- lookups

    def get_token_idx(self, token: str) -> int | None:
        return self.token_ids.get(token)

    def get_tokens(self, entity_id: int) -> tuple[int, tuple[int, ...]]:
        return self.entity_rank[entity_id].as_py(), self.entity_tokens[entity_id]

    def is_edge_case(self, entity_id: int) -> bool:
        return entity_id in self.edge_cases

    def token_string(self, token_idx: int) -> str:
        return self.tokens[token_idx].as_py()

    def get_resolved_value(self, entity_id: int) -> tuple[str, str]:
        """(resolved, raw_value) where raw_value is the interned tokens
        re-joined with single spaces — whitespace-normalizing
        (reference: src/parser_registry.rs:175-192)."""
        raw = " ".join(self.token_string(t) for t in self.entity_tokens[entity_id])
        return self.resolved[entity_id].as_py(), raw

    # ------------------------------------------------------ config snapshots

    def get_stop_words(self) -> set[str]:
        return {self.token_string(t) for t in self.stop_words}

    def get_additional_stop_words(self) -> set[str]:
        return {self.token_string(t) for t in self.additional_stop_words}

    def get_edge_cases(self) -> set[str]:
        return {self.resolved[ev].as_py() for ev in self.edge_cases}

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, Registry):
            return NotImplemented
        return (
            self.tokens.equals(other.tokens)
            and self.entity_tokens == other.entity_tokens
            and self.entity_rank.equals(other.entity_rank)
            and self.resolved.equals(other.resolved)
            and self.stop_words == other.stop_words
            and self.edge_cases == other.edge_cases
            and self.injected == other.injected
        )
