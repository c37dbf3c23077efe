"""Parser configuration, building, and folder persistence.

Re-expresses the reference builder (reference: src/parser_builder.rs:9-101)
and folder dump/load (reference: src/parser.rs:173-216). Persistence is
re-expressed per the north star: ``metadata.json`` + a gazetteer parquet (or
JSON fallback) directory; *loading* rebuilds the registry from the gazetteer
rows and must resolve identically — "parser serialization round-trip
re-expressed as broadcast-index rebuild".
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from .fmath import f32
from .parser import Parser
from .registry import Registry
from .tokenizer import tokens_only

ENGINE_VERSION = "0.1.0"
METADATA_FILENAME = "metadata.json"  # reference: src/constants.rs:1
GAZETTEER_FILENAME = "gazetteer.json"  # replaces the MessagePack blob (src/constants.rs:2)


@dataclass
class LicenseInfo:
    """reference: src/parser.rs:35-39."""

    filename: str
    content: str


def _validate_license_filename(name: str) -> str:
    """The license sidecar shares the dump folder with metadata.json and
    gazetteer.json: a colliding name would silently clobber them (the
    license is written last), and a path-separator/'..' name would escape
    the folder on load — reject both at the boundary."""
    if (
        not name
        or "/" in name
        or "\\" in name
        or name in (os.curdir, os.pardir)
        or name in (METADATA_FILENAME, GAZETTEER_FILENAME)
    ):
        raise ValueError(
            f"license filename {name!r} must be a bare filename distinct "
            f"from {METADATA_FILENAME!r} and {GAZETTEER_FILENAME!r}"
        )
    return name


@dataclass
class ParserBuilder:
    """Fluent config; defaults match the reference
    (reference: src/parser_builder.rs:19-29: threshold=1.0, no stop words)."""

    gazetteer: list[tuple[str, str]] = field(default_factory=list)  # (raw, resolved)
    threshold: float = 1.0
    n_gazetteer_stop_words: int | None = None
    additional_stop_words: list[str] | None = None
    license_info: LicenseInfo | None = None

    # fluent API (reference: src/parser_builder.rs:34-79)
    def set_gazetteer(self, rows: list[tuple[str, str]]) -> "ParserBuilder":
        self.gazetteer = list(rows)
        return self

    def extend_with_gazetteer(self, rows: list[tuple[str, str]]) -> "ParserBuilder":
        self.gazetteer.extend(rows)
        return self

    def add_value(self, raw_value: str, resolved_value: str) -> "ParserBuilder":
        self.gazetteer.append((raw_value, resolved_value))
        return self

    def minimum_tokens_ratio(self, ratio: float) -> "ParserBuilder":
        self.threshold = ratio
        return self

    def n_stop_words(self, n: int) -> "ParserBuilder":
        self.n_gazetteer_stop_words = n
        return self

    def set_additional_stop_words(self, words: list[str]) -> "ParserBuilder":
        self.additional_stop_words = list(words)
        return self

    def set_license_info(self, info: LicenseInfo | None) -> "ParserBuilder":
        self.license_info = info
        return self

    def build(self) -> Parser:
        """Validate threshold ∈ [0,1], rank rows by position, tokenize,
        intern, derive stop words (reference: src/parser_builder.rs:82-101)."""
        if self.threshold < 0.0 or self.threshold > 1.0:
            raise ValueError(
                f"Invalid value for threshold ({self.threshold}), "
                "it must be between 0.0 and 1.0"
            )
        registry = Registry()
        registry.extend(
            (tokens_only(raw), resolved, rank)
            for rank, (raw, resolved) in enumerate(self.gazetteer)
        )
        registry.set_stop_words(
            self.n_gazetteer_stop_words or 0, self.additional_stop_words
        )
        parser = Parser(registry, self.threshold)
        parser.license_info = self.license_info
        return parser

    # JSON config round-trip (reference: src/parser_builder.rs:9-17, pinned by
    # the serde test at src/parser_builder.rs:247-289)
    def to_json(self) -> str:
        payload = {
            "gazetteer": [
                {"raw_value": raw, "resolved_value": res} for raw, res in self.gazetteer
            ],
            "threshold": self.threshold,
            "n_gazetteer_stop_words": self.n_gazetteer_stop_words,
            "additional_stop_words": self.additional_stop_words,
            "license_info": (
                {"filename": self.license_info.filename, "content": self.license_info.content}
                if self.license_info
                else None
            ),
        }
        return json.dumps(payload, indent=2)

    @classmethod
    def from_json(cls, text: str) -> "ParserBuilder":
        payload = json.loads(text)
        info = payload.get("license_info")
        return cls(
            gazetteer=[
                (row["raw_value"], row["resolved_value"])
                for row in payload.get("gazetteer", [])
            ],
            threshold=payload.get("threshold", 1.0),
            n_gazetteer_stop_words=payload.get("n_gazetteer_stop_words"),
            additional_stop_words=payload.get("additional_stop_words"),
            license_info=LicenseInfo(info["filename"], info["content"]) if info else None,
        )


def get_parser_config(parser: Parser) -> dict:
    """Persisted metadata (reference: src/parser.rs:41-48, 574-582)."""
    reg = parser.registry
    info = getattr(parser, "license_info", None)
    return {
        "version": ENGINE_VERSION,
        "parser_filename": GAZETTEER_FILENAME,
        "threshold": parser.threshold,
        "stop_words": sorted(reg.get_stop_words()),
        "edge_cases": sorted(reg.get_edge_cases()),
        "n_stop_words": reg.n_stop_words,
        "additional_stop_words": sorted(reg.get_additional_stop_words()),
        "license_filename": info.filename if info is not None else None,
    }


def dump_parser(parser: Parser, folder: str) -> None:
    """Sink: metadata.json + full registered gazetteer rows + optional
    license sidecar (reference: src/parser.rs:173-199). The gazetteer rows —
    not the index — are the persisted truth; load rebuilds the index."""
    info = getattr(parser, "license_info", None)
    # validate before creating anything on disk
    license_name = _validate_license_filename(info.filename) if info is not None else None
    os.makedirs(folder, exist_ok=False)
    config = get_parser_config(parser)
    with open(os.path.join(folder, METADATA_FILENAME), "w", encoding="utf-8") as fh:
        json.dump(config, fh)
    rows = [
        {"tokens": toks, "resolved_value": res, "is_injected": inj, "rank": rank}
        for toks, res, inj, rank in parser.registry.get_entity_values(include_injected=True)
    ]
    with open(os.path.join(folder, GAZETTEER_FILENAME), "w", encoding="utf-8") as fh:
        json.dump(rows, fh)
    if info is not None:
        with open(os.path.join(folder, license_name), "w", encoding="utf-8") as fh:
            fh.write(info.content)


def load_parser(folder: str) -> Parser:
    """Source: read metadata + gazetteer rows, rebuild the registry
    (reference: src/parser.rs:202-216; round-trip must be behavior-identical,
    pinned by the reference E2E test at src/parser.rs:647-698)."""
    with open(os.path.join(folder, METADATA_FILENAME), encoding="utf-8") as fh:
        config = json.load(fh)
    with open(os.path.join(folder, config["parser_filename"]), encoding="utf-8") as fh:
        rows = json.load(fh)

    rows.sort(key=lambda r: r["rank"])
    registry = Registry()
    ids = registry.extend((r["tokens"], r["resolved_value"], r["rank"]) for r in rows)
    registry.injected = frozenset(
        ev for ev, r in zip(ids, rows) if ev is not None and r.get("is_injected")
    )
    if "stop_words" in config:
        # restore the PERSISTED set verbatim: recomputing top-n here can flip
        # a doc-frequency tie when the dumped parser's interning order (e.g.
        # after prepend_values) differs from this rank-ordered rebuild — the
        # reloaded parser must resolve exactly like the one dumped
        registry.restore_stop_words(
            config.get("n_stop_words", 0),
            config["stop_words"],
            config.get("additional_stop_words", []),
        )
    else:  # pre-stop-words metadata (never written by this engine; defensive)
        registry.set_stop_words(
            config.get("n_stop_words", 0), config.get("additional_stop_words", [])
        )
    parser = Parser(registry, f32(config["threshold"]))
    lic = config.get("license_filename")
    if lic:
        lic_path = os.path.join(folder, _validate_license_filename(lic))
        if os.path.exists(lic_path):
            with open(lic_path, encoding="utf-8") as fh:
                parser.license_info = LicenseInfo(lic, fh.read())
    return parser
