"""The gazetteer matching kernel: single-document entity resolution.

Pure-Python re-expression of the reference's query path
(reference: src/parser.rs:219-623). This is deliberately Spark-free: at scale
it runs data-parallel across documents inside one Arrow-batched
``mapInPandas`` stage (see ..operators.extract), sequential per document —
exactly the reference's execution model lifted from 1 string to 10^12 rows.

Faithfulness quirks preserved (see SURVEY.md §7 M0):
- f32 threshold comparisons (reference: src/utils.rs:6-8);
- character-offset ranges (reference: src/parser.rs:550-555);
- first-position seeding + decrement-by-one stop-word backtracking
  (reference: src/parser.rs:388-391, 419-456);
- additional-stop-words with empty postings ``continue`` without recording a
  skip (reference: src/parser.rs:233-236);
- growth requires a strictly later position in the entry's token list
  (reference: src/parser.rs:364-377);
- reduction recomputes n_consumed as the surviving span width
  (reference: src/parser.rs:495);
- alternatives cutoff at the first larger raw_value_length
  (reference: src/parser.rs:612-618);
- one live match per entity id (reference: src/parser.rs:228).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np

from .fmath import check_threshold, f32
from .registry import Registry, pylist
from .tokenizer import tokenize


class PossibleMatch:
    """In-flight match state, one live instance per entity id
    (reference: src/parser.rs:51-64)."""

    __slots__ = (
        "entity",
        "tok_start",
        "tok_end",
        "raw_value_length",
        "n_consumed_tokens",
        "last_token_in_input",
        "first_token_in_resolution",
        "last_token_in_resolution",
        "rank",
        "alternatives",
    )

    def __init__(
        self,
        entity: int,
        tok_start: int,
        tok_end: int,
        raw_value_length: int,
        n_consumed_tokens: int,
        last_token_in_input: int,
        first_token_in_resolution: int,
        last_token_in_resolution: int,
        rank: int,
        alternatives: list[int] | None = None,
    ) -> None:
        self.entity = entity
        self.tok_start = tok_start
        self.tok_end = tok_end
        self.raw_value_length = raw_value_length
        self.n_consumed_tokens = n_consumed_tokens
        self.last_token_in_input = last_token_in_input
        self.first_token_in_resolution = first_token_in_resolution
        self.last_token_in_resolution = last_token_in_resolution
        self.rank = rank
        self.alternatives = alternatives if alternatives is not None else []

    def check(self, threshold_f32: float) -> bool:
        """reference: src/parser.rs:66-74 — skips counted against the
        gazetteer entry's token count, not the input's."""
        return check_threshold(
            self.n_consumed_tokens,
            self.raw_value_length - self.n_consumed_tokens,
            threshold_f32,
        )

    def sort_key(self) -> tuple[int, int, int]:
        """Min-heap key for the max-first pop order of the reference
        (reference: src/parser.rs:76-91): more consumed tokens win, then
        shorter entries, then lower (more popular) rank."""
        return (-self.n_consumed_tokens, self.raw_value_length, self.rank)

    def copy(self) -> "PossibleMatch":
        return PossibleMatch(
            self.entity,
            self.tok_start,
            self.tok_end,
            self.raw_value_length,
            self.n_consumed_tokens,
            self.last_token_in_input,
            self.first_token_in_resolution,
            self.last_token_in_resolution,
            self.rank,
            list(self.alternatives),
        )


@dataclass(frozen=True)
class ResolvedValue:
    """reference: src/data.rs:146-150."""

    resolved: str
    raw_value: str


@dataclass(frozen=True)
class ParsedValue:
    """One output mention (reference: src/data.rs:137-144). ``start``/``end``
    are character (code point) offsets. ``entity`` and ``rank`` are engine
    extensions consumed by the KG pipeline (not part of the reference API)."""

    resolved_value: ResolvedValue
    range: tuple[int, int]
    matched_value: str
    alternatives: tuple[ResolvedValue, ...] = ()
    entity: int = -1
    rank: int = -1
    # engine extension: [first, last) token ordinals of the match within the
    # input — lets downstream stages window/pair without re-tokenizing
    tok_range: tuple[int, int] = (-1, -1)


class _Memo(dict):
    """``memo[key]`` is ``fn(key)``, computed on first use: the kernel's
    per-worker view of registry rows, which the registry stores as columns
    (a hit is a plain dict lookup)."""

    __slots__ = ("fn",)

    def __init__(self, fn) -> None:
        super().__init__()
        self.fn = fn

    def __missing__(self, key):
        value = self[key] = self.fn(key)
        return value


class Parser:
    """Engine handle: a built registry + f32 threshold
    (reference: src/parser.rs:24-33)."""

    def __init__(self, registry: Registry, threshold: float = 1.0) -> None:
        self.registry = registry
        self.threshold = f32(threshold)
        self.license_info = None
        self._invalidate_run_caches()

    def __getstate__(self) -> dict:
        # the run caches and memos are per process: a broadcast ships the
        # registry columns only, however much this parser has run
        return {
            "registry": self.registry,
            "threshold": self.threshold,
            "license_info": self.license_info,
        }

    def __setstate__(self, state: dict) -> None:
        self.__init__(state["registry"], state["threshold"])
        self.license_info = state["license_info"]

    def _entry(self, entity_id: int) -> tuple[int, int, ResolvedValue]:
        """The ``(entity, rank, ResolvedValue)`` match entry."""
        rank, _tokens = self._entities[entity_id]
        return (entity_id, rank, ResolvedValue(*self.registry.get_resolved_value(entity_id)))

    def _invalidate_run_caches(self) -> None:
        """(Re)create the lazily-built run-path caches, after any in-place
        mutation of the registry or threshold. The single-token dictionary
        fast path is derived from postings + stop words + threshold on first
        run(); stale copies would silently ignore later prepends (prepended
        values never match, rebased ranks never win ties). The memos hold
        the registry rows the kernel touched: ``_postings`` per token id,
        ``_entities`` (rank, token ids) and ``_entries`` (match entry) per
        entity id. ``_need`` is the general lane's prefilter bound per
        entity id (see :meth:`_admit`)."""
        self._single_token_table = None
        self._single_token_checked = False
        self._le2_tables = None
        self._le2_checked = False
        reg = self.registry
        self._postings = _Memo(lambda tid: reg.postings[tid])
        self._entities = _Memo(reg.get_tokens)
        self._entries = _Memo(self._entry)
        self._need = _min_consumed(reg.entity_tokens.lengths(), self.threshold)

    def set_threshold(self, threshold: float) -> None:
        """reference: src/parser.rs:119-121 (stored as f32)."""
        self.threshold = f32(threshold)
        self._invalidate_run_caches()

    def inject_new_values(
        self,
        new_values: list[tuple[str, str]],
        prepend: bool,
        from_vanilla: bool,
    ) -> "Parser":
        """Entity injection: (raw_value, resolved_value) pairs, prepend or
        append with rank rebasing; ``from_vanilla`` drops previously injected
        values first (reference: src/parser.rs:156-168). Returns a new Parser
        (the registry is rebuilt from scratch, reference:
        src/parser_registry.rs:199-254)."""
        from .tokenizer import tokens_only

        tokenized = [(tokens_only(raw), resolved) for raw, resolved in new_values]
        new_registry = self.registry.inject_new_values(tokenized, prepend, from_vanilla)
        out = Parser(new_registry, self.threshold)
        out.license_info = self.license_info
        return out

    def prepend_values(self, new_values: list[tuple[str, str]]) -> list[int]:
        """reference: src/parser.rs:108-116. Mutates the registry in place,
        so all run-path caches are invalidated before returning."""
        from .tokenizer import tokens_only

        out = self.registry.prepend_values(
            [(tokens_only(raw), resolved) for raw, resolved in new_values]
        )
        self._invalidate_run_caches()
        return out

    # ------------------------------------------------------------------- run

    def match(
        self, tokens: list[tuple[int, int, str]], max_alternatives: int = 0
    ) -> list[tuple[int, int, tuple]]:
        """The one match core: ``[(tok_start, tok_end, entries)]`` in token
        order, where ``entries[0]`` is the winning ``(entity, rank,
        ResolvedValue)`` and ``entries[1 : max_alternatives + 1]`` are its
        alternatives in rank order (a fast-path plan hands out its whole
        posting tuple, so consumers slice). Spans are token ordinals into
        ``tokens``; every plan emits this form and ``run``/``run_light``/
        ``run_light_pos`` are projections of it."""
        table = self._single_token_lookup()
        if table is not None:
            get = table.get
            return [
                (i, i + 1, entries)
                for i, tok in enumerate(tokens)
                if (entries := get(tok[2])) is not None
            ]
        tables = self._le2_lookup()
        if tables is not None:
            return self._match_le2(tokens, tables)
        heap = self._find_possible_matches(tokens, self.threshold, max_alternatives)
        return self._parse_input(tokens, heap)

    def run(
        self,
        input_text: str,
        max_alternatives: int = 0,
        tokens: list[tuple[int, int, str]] | None = None,
    ) -> list[ParsedValue]:
        """reference: src/parser.rs:146-149. ``tokens`` may carry precomputed
        ``tokenize(input_text)`` output (callers like the extraction operator
        already hold it); when omitted it is computed once and shared by the
        scan, the reduction re-walk, and the overlap loop."""
        if tokens is None:
            tokens = tokenize(input_text)
        return self._parsed_values(
            input_text, tokens, self.match(tokens, max_alternatives), max_alternatives
        )

    def run_light(
        self, input_text: str, tokens: list[tuple[int, int, str]] | None = None
    ) -> list[tuple[str, int]]:
        """The (resolved, rank) sequence in token order, for aggregation-only
        consumers (the fused triples stage). Output equals
        ``[(pv.resolved_value.resolved, pv.rank) for pv in run(text, 0)]``
        (pinned in tests/test_fast_path.py)."""
        if tokens is None:
            tokens = tokenize(input_text)
        return [(e[0][2].resolved, e[0][1]) for _s, _e, e in self.match(tokens)]

    def run_light_pos(
        self, input_text: str, tokens: list[tuple[int, int, str]] | None = None
    ) -> list[tuple[int, str, int]]:
        """(start_token_ordinal, resolved, rank) triples in token order.
        Output equals ``[(pv.tok_range[0], pv.resolved_value.resolved,
        pv.rank) for pv in run(text, 0)]`` (pinned in tests/test_fast_path.py)."""
        if tokens is None:
            tokens = tokenize(input_text)
        return [(s, e[0][2].resolved, e[0][1]) for s, _e, e in self.match(tokens)]

    @staticmethod
    def _parsed_values(
        input_text: str, tokens, matches, max_alternatives: int
    ) -> list[ParsedValue]:
        """ParsedValues from :meth:`match` output. Tokens are raw substrings
        of ``input_text``, so a span's char range and matched_value follow
        from its first and last token."""
        out = []
        for ts, te, entries in matches:
            start = tokens[ts][0]
            end = tokens[te - 1][1]
            ev, rank, rv = entries[0]
            out.append(
                ParsedValue(
                    resolved_value=rv,
                    range=(start, end),
                    matched_value=input_text[start:end],
                    alternatives=(
                        tuple(e[2] for e in entries[1 : max_alternatives + 1])
                        if max_alternatives
                        else ()
                    ),
                    entity=ev,
                    rank=rank,
                    tok_range=(ts, te),
                )
            )
        return out

    # -------------------------------------------- pure-dictionary fast path

    def _single_token_lookup(self):
        """Specialized physical plan: when every gazetteer entry is a single
        token and there are no stop words, the general machinery provably
        reduces to a dictionary probe — every match has n_consumed=1,
        raw_value_length=1 (ratio 1.0 passes any θ≤1), spans never overlap,
        groups are per-token-occurrence, best match = min rank, and
        alternatives are the remaining postings in rank order with no
        raw_value_length cutoff. Equivalence is pinned against the general
        path in tests/test_fast_path.py."""
        if not self._single_token_checked:
            self._single_token_checked = True
            reg = self.registry
            if (
                not reg.stop_words
                and self.threshold <= 1.0
                and (reg.entity_tokens.lengths() == 1).all()
            ):
                # per token: the match entries of its postings in rank order;
                # a single-token entity's raw_value IS its token string
                ranks = pylist(reg.entity_rank)
                resolved = pylist(reg.resolved)
                table: dict[str, tuple] = {}
                for token, postings in zip(pylist(reg.tokens), reg.postings):
                    if postings:
                        table[token] = tuple(
                            (ev, ranks[ev], ResolvedValue(resolved[ev], token))
                            for ev in sorted(postings, key=ranks.__getitem__)
                        )
                self._single_token_table = table
        return self._single_token_table

    # ----------------------------------------- 1-2-token-entry fast path

    def _le2_lookup(self):
        """Specialized physical plan for gazetteers whose entries are all 1
        or 2 tokens with θ > 0.5 (the KG pipeline's alias-gazetteer flavor).
        Under those preconditions the general machinery provably reduces to
        dictionary probes + a tiny greedy:

        - a 1-of-2 partial is 1/2 = 0.5 < θ, so it never passes the flush
          check and the pos-1 insert is early-pruned — ONLY full adjacent
          bigram occurrences and full singles survive;
        - stop words are a NO-OP for candidates: a stop token's single entity
          is by definition an edge case (all its tokens are stop words) and
          matches at θ=1.0 trivially (full), while stop-bearing bigrams still
          require physical adjacency (the skipped-stop-word backtrack in
          _insert_new only absorbs the immediately preceding token, and
          growth requires token_idx == last+1);
        - (t, t) entities alternate within equal-token runs: the single live
          match per entity flushes at the run's 1st, 3rd, ... pair and the
          restart consumes the intervening token (one-live-match rule);
        - greedy overlap: every bigram (consumed 2) pops before every single
          (consumed 1); among bigrams rank asc with same-rank (= same-entity)
          ties in scan order; a reduced overlapper is 1/2 < θ and dies, so
          singles survive exactly where no chosen bigram covers them;
        - groups are span-homogeneous (a 1-token span only groups 1-token
          entities, a 2-token span only entities with that exact ordered
          token pair), so the alternatives cutoff at the first larger
          raw_value_length never triggers and alternatives are simply the
          remaining same-key entities in rank order.

        Unique ranks are part of the gate: with duplicate ranks the general
        path breaks ties by flush order, which this plan does not model.
        Equivalence is pinned against the general path in
        tests/test_fast_path.py (randomized + hypothesis property tests).
        """
        if not self._le2_checked:
            self._le2_checked = True
            reg = self.registry
            if (
                len(reg.entity_tokens)
                and 0.5 < self.threshold <= 1.0
                and (reg.entity_tokens.lengths() <= 2).all()
                and len(set(ranks := pylist(reg.entity_rank))) == len(ranks)
            ):
                tokens = pylist(reg.tokens)
                resolved = pylist(reg.resolved)
                singles: dict[str, list] = {}
                bigrams: dict[tuple[str, str], list] = {}
                for ev, tok_ids in enumerate(reg.entity_tokens):
                    strs = tuple(tokens[t] for t in tok_ids)
                    entry = (ev, ranks[ev], ResolvedValue(resolved[ev], " ".join(strs)))
                    if len(strs) == 1:
                        singles.setdefault(strs[0], []).append(entry)
                    else:
                        bigrams.setdefault(strs, []).append(entry)
                singles = {k: tuple(sorted(v, key=lambda e: e[1])) for k, v in singles.items()}
                bigrams = {k: tuple(sorted(v, key=lambda e: e[1])) for k, v in bigrams.items()}
                self._le2_tables = (singles, bigrams)
        return self._le2_tables

    @staticmethod
    def _match_le2(tokens, tables) -> list[tuple[int, int, tuple]]:
        singles, bigrams = tables
        n = len(tokens)

        # enumerate bigram candidates in scan order; (t, t) keys alternate
        # within equal-token runs (see _le2_lookup). A single tracker is
        # enough: consecutive candidates at i-1 and i force key[0] == key[1].
        cands = []
        bget = bigrams.get
        prev_tt_cand = -2
        for i in range(n - 1):
            key = (tokens[i][2], tokens[i + 1][2])
            entries = bget(key)
            if entries is None:
                continue
            if key[0] == key[1]:
                if prev_tt_cand == i - 1:
                    continue
                prev_tt_cand = i
            cands.append((entries[0][1], i, entries))

        taken = bytearray(n)
        out = []
        if cands:
            # (rank, position) is unique per candidate: entries never compare
            cands.sort()
            for _rank, i, entries in cands:
                if taken[i] or taken[i + 1]:
                    continue
                taken[i] = taken[i + 1] = 1
                out.append((i, i + 2, entries))

        sget = singles.get
        for i, tok in enumerate(tokens):
            if not taken[i] and (entries := sget(tok[2])) is not None:
                out.append((i, i + 1, entries))
        if cands:
            out.sort()
        return out

    # ---------------------------------------------------------- candidate scan

    def _find_possible_matches(
        self, tokens: list[tuple[int, int, str]], threshold: float, max_alternatives: int
    ) -> list:
        """Single left-to-right pass growing one live match per entity
        (reference: src/parser.rs:222-309). Returns a heapq list of
        (key, seq, PossibleMatch).

        Only entities :meth:`_admit` lets through are inserted. The bound is
        exact: a final match of entity ``e`` consumes ``n`` distinct window
        positions whose token is in ``e`` (seed, growth and back-absorbed
        stop words alike), so ``n <= min(hits(e), len(e))``, and it passes
        only if ``n >= need(len(e))`` (``check_threshold`` is monotone in
        ``n``; edge cases are checked at 1.0, which needs no fewer). Entities
        do not interact before :func:`_group_matches`, so dropping the ones
        that can never be final leaves every other entity's state, and the
        order of ``finals``, unchanged. ``threshold`` must be the parser's
        own, which ``_need`` was built from."""
        reg = self.registry
        token_ids = reg.token_ids
        ids = [token_ids.get(tok[2]) for tok in tokens]
        admitted = self._admit([v for v in ids if v is not None])
        if not admitted:
            return []
        postings = self._postings
        stop_words = reg.stop_words
        edge_cases = reg.edge_cases
        partial: dict[int, PossibleMatch] = {}
        finals: list[PossibleMatch] = []
        skipped: dict[int, int] = {}  # tok_idx -> token_id

        for token_idx, value in enumerate(ids):
            if value is None:
                continue
            res_vals = postings[value]
            if not res_vals:
                # additional stop word absent from the gazetteer: skip without
                # recording a skipped token (reference: src/parser.rs:233-236)
                continue
            if value not in stop_words:
                for res_val in res_vals:
                    if res_val in admitted:
                        self._update_or_insert(
                            value, res_val, token_idx, partial, finals, skipped, threshold
                        )
            else:
                skipped[token_idx] = value
                # edge cases containing this stop word: grow/start at θ=1.0
                # (reference: src/parser.rs:252-269)
                if edge_cases:
                    for res_val in edge_cases.intersection(res_vals):
                        if res_val in admitted:
                            self._update_or_insert(
                                value, res_val, token_idx, partial, finals, skipped, 1.0
                            )
                # grow (never initiate) existing non-edge-case matches that
                # contain the stop word (reference: src/parser.rs:271-287)
                res_set = set(res_vals)
                for res_val, pm in partial.items():
                    if res_val not in res_set or res_val in edge_cases:
                        continue
                    self._update_previous(pm, token_idx, value, threshold, finals)

        # flush surviving partials through the threshold filter; no copy
        # needed — the partial map is discarded here
        # (reference: src/parser.rs:292-305)
        for pm in partial.values():
            if pm.check(1.0 if pm.entity in edge_cases else threshold):
                finals.append(pm)

        return _group_matches(finals, max_alternatives)

    def _admit(self, token_ids: list[int]) -> set[int]:
        """The entities a window with these token ids (one per position,
        stop words included) can match: ``hits(e)``, the number of positions
        whose postings hold ``e``, reaches ``need(len(e))``. One gather over
        the postings CSR and one ``np.unique`` count per window."""
        offsets = self.registry.postings.offsets
        ids = np.asarray(token_ids, np.int64)
        starts = offsets[ids]
        lens = offsets[ids + 1] - starts
        total = int(lens.sum())
        if not total:
            return set()
        # row i's slice, flattened: starts[i] + 0 .. lens[i] - 1
        idx = np.arange(total) + np.repeat(starts - (np.cumsum(lens) - lens), lens)
        ents, hits = np.unique(self.registry.postings.values[idx], return_counts=True)
        return set(ents[hits >= self._need[ents]].tolist())

    # -------------------------------------------------------- upsert dispatch

    def _update_or_insert(
        self, value, res_val, token_idx, partial, finals, skipped, threshold
    ) -> None:
        """reference: src/parser.rs:311-347."""
        pm = partial.get(res_val)
        if pm is not None:
            self._update_previous(pm, token_idx, value, threshold, finals)
        else:
            new_pm = self._insert_new(res_val, value, token_idx, threshold, skipped)
            if new_pm is not None:
                partial[res_val] = new_pm

    # ------------------------------------------------------------ match growth

    def _update_previous(self, pm, token_idx, value, threshold, finals) -> None:
        """Grow iff input-adjacent AND the token occurs in the entry after the
        last consumed entry position; otherwise flush (if ≥θ) and restart at
        this token's first entry position (reference: src/parser.rs:349-405)."""
        rank, otokens = self._entities[pm.entity]

        if token_idx == pm.last_token_in_input + 1:
            try:
                otoken_idx = otokens.index(value, pm.last_token_in_resolution + 1)
            except ValueError:
                otoken_idx = -1
            if otoken_idx >= 0:
                pm.n_consumed_tokens += 1
                pm.last_token_in_input = token_idx
                pm.last_token_in_resolution = otoken_idx
                pm.tok_end += 1
                return

        if pm.check(threshold):
            finals.append(pm.copy())

        # restart in place with the same entity (reference: src/parser.rs:388-404)
        pos = otokens.index(value)  # panics in the reference if absent; same here
        pm.tok_start = token_idx
        pm.tok_end = token_idx + 1
        pm.raw_value_length = len(otokens)
        pm.last_token_in_input = token_idx
        pm.first_token_in_resolution = pos
        pm.last_token_in_resolution = pos
        pm.n_consumed_tokens = 1
        pm.rank = rank
        pm.alternatives = []

    # ---------------------------------------------------- match start/backtrack

    def _insert_new(
        self, res_val, value, token_idx, threshold, skipped
    ) -> PossibleMatch | None:
        """Seed a 1-token match at the token's first entry position, absorb
        contiguous previously-skipped stop words backwards (decrementing the
        first-resolution cursor by one per absorbed word), then early-prune
        with an optimistic threshold check (reference: src/parser.rs:409-470)."""
        rank, otokens = self._entities[res_val]
        pos = otokens.index(value)
        pm = PossibleMatch(
            entity=res_val,
            tok_start=token_idx,
            tok_end=token_idx + 1,
            raw_value_length=len(otokens),
            n_consumed_tokens=1,
            last_token_in_input=token_idx,
            first_token_in_resolution=pos,
            last_token_in_resolution=pos,
            rank=rank,
        )
        n_skips = pos
        for btok_idx in range(token_idx - 1, -1, -1):
            skip_tok = skipped.get(btok_idx)
            if skip_tok is None:
                break
            try:
                idx = otokens.index(skip_tok)
            except ValueError:
                break
            if idx < pm.first_token_in_resolution:
                pm.tok_start = btok_idx
                pm.n_consumed_tokens += 1
                pm.first_token_in_resolution -= 1
                n_skips -= 1
            else:
                break

        if check_threshold(pm.raw_value_length - n_skips, n_skips, threshold):
            return pm
        return None

    # -------------------------------------------------- greedy overlap resolve

    def _parse_input(
        self, toks: list[tuple[int, int, str]], heap: list
    ) -> list[tuple[int, int, tuple]]:
        """Pop best-first; overlapping candidates are reduced and re-pushed if
        still above threshold; emitted spans claim their token positions
        (reference: src/parser.rs:506-572). Returns :meth:`match` positions."""
        reg = self.registry
        entry = self._entries.__getitem__
        n_total_tokens = len(toks)
        taken: set[int] = set()
        out = []
        seq = len(heap)  # fresh sequence numbers for re-pushed entries

        while heap and len(taken) < n_total_tokens:
            _key, _seq, pm = heapq.heappop(heap)

            # C-speed: spans are window-bounded (short), so intersecting the
            # range beats scanning the taken set per pop
            overlapping = taken.intersection(range(pm.tok_start, pm.tok_end))
            if overlapping:
                reduced = _reduce_possible_match(pm, overlapping)
                if reduced is not None:
                    thr = 1.0 if reg.is_edge_case(reduced.entity) else self.threshold
                    if reduced.check(thr):
                        seq += 1
                        heapq.heappush(heap, (reduced.sort_key(), seq, reduced))
                continue

            entries = (entry(pm.entity), *(entry(ev) for ev in pm.alternatives))
            out.append((pm.tok_start, pm.tok_end, entries))
            taken.update(range(pm.tok_start, pm.tok_end))

        # spans are disjoint, so tok_start alone orders them
        out.sort()
        return out


# ---------------------------------------------------------- prefilter bound


def _min_consumed(lengths: np.ndarray, threshold: float) -> np.ndarray:
    """Per entity, ``need(len(e))``: the fewest consumed tokens ``n <=
    len(e)`` with ``check_threshold(n, len(e) - n, θ)``. θ is capped at 1.0,
    the threshold edge cases are checked at, so the bound holds for them
    too (and for a θ above 1 nothing else passes anyway)."""
    theta = threshold if threshold < 1.0 else 1.0
    need = [0]
    for n_tokens in range(1, int(lengths.max(initial=0)) + 1):
        need.append(
            next(n for n in range(1, n_tokens + 1)
                 if check_threshold(n, n_tokens - n, theta))
        )
    return np.asarray(need, np.int64)[lengths]


# ------------------------------------------------------------------ grouping


def _group_matches(finals: list[PossibleMatch], max_alternatives: int) -> list:
    """Group finals by exact span (a token span is a char range: tokens are
    disjoint and non-empty); per group keep the best match and
    attach up to ``max_alternatives`` alternatives in quality order, stopping
    at the first alternative with a larger raw_value_length
    (reference: src/parser.rs:585-623). Returns a ready heapq list."""
    groups: dict[tuple[int, int], list[PossibleMatch]] = {}
    for pm in finals:
        groups.setdefault((pm.tok_start, pm.tok_end), []).append(pm)

    heap: list = []
    seq = 0
    for group in groups.values():
        group.sort(key=PossibleMatch.sort_key)
        best = group[0].copy()
        for m in group[1:]:
            if len(best.alternatives) >= max_alternatives:
                break
            if m.raw_value_length > best.raw_value_length:
                break
            best.alternatives.append(m.entity)
        heap.append((best.sort_key(), seq, best))
        seq += 1
    heapq.heapify(heap)
    return heap


def _reduce_possible_match(pm: PossibleMatch, overlapping: set[int]) -> PossibleMatch | None:
    """Drop overlapping token positions; the surviving span's width becomes
    the new n_consumed_tokens — interior never-matched tokens count as
    consumed after reduction, a reference quirk we reproduce
    (reference: src/parser.rs:472-504, :495)."""
    surviving = [i for i in range(pm.tok_start, pm.tok_end) if i not in overlapping]
    if not surviving:
        return None
    first_idx = surviving[0]
    last_idx = surviving[-1]
    return PossibleMatch(
        entity=pm.entity,
        tok_start=first_idx,
        tok_end=last_idx + 1,
        raw_value_length=pm.raw_value_length,
        n_consumed_tokens=last_idx - first_idx + 1,
        last_token_in_input=0,
        first_token_in_resolution=0,
        last_token_in_resolution=0,
        rank=pm.rank,
        alternatives=list(pm.alternatives),
    )
