"""Registry goldens transcribed from reference: src/parser_registry.rs:321-613."""

from gazetteer_entity_parser_spark.kernel import Registry


def test_stop_words_and_edge_cases():
    # reference: src/parser_registry.rs:321-354
    reg = Registry()
    reg.add_value(["the", "flying", "stones"], "The Flying Stones", 0)
    reg.add_value(["the", "rolling", "stones"], "The Rolling Stones", 1)
    reg.add_value(["the", "stones", "rolling"], "The Stones Rolling", 2)
    reg.add_value(["the", "stones"], "The Stones", 3)
    reg.set_stop_words(2, ["hello"])
    assert reg.get_stop_words() == {"the", "stones", "hello"}
    assert reg.get_edge_cases() == {"The Stones"}


def test_add_value_and_materialize():
    # reference: src/parser_registry.rs:357-381
    reg = Registry()
    i1 = reg.add_value(["daft", "punk"], "Daft Punk", 0)
    i2 = reg.add_value(["blink", "one", "eight", "two"], "Blink 182", 1)
    assert reg.get_resolved_value(i1) == ("Daft Punk", "daft punk")
    assert reg.get_resolved_value(i2) == ("Blink 182", "blink one eight two")


def test_duplicate_resolved_gets_fresh_id():
    # reference: src/parser_registry.rs:43-45 — a second alias of the same
    # canonical value must get a new entity id
    reg = Registry()
    i1 = reg.add_value(["blink"], "Blink-182", 0)
    i2 = reg.add_value(["blink", "182"], "Blink-182", 1)
    assert i1 != i2
    assert reg.get_resolved_value(i1)[0] == reg.get_resolved_value(i2)[0] == "Blink-182"


def test_empty_value_rejected():
    # reference: src/parser_registry.rs:39-41
    reg = Registry()
    assert reg.add_value([], "Empty", 0) is None


def test_prepend_values():
    # reference: src/parser_registry.rs:384-405
    reg = Registry()
    idx = reg.add_value(["daft", "punk"], "Daft Punk", 0)
    prepended = reg.prepend_values([(["blink"], "Blink"), (["metronomy"], "Metronomy")])
    assert reg.get_tokens(idx)[0] == 2
    assert [reg.get_tokens(i)[0] for i in prepended] == [0, 1]


def test_reconstruct_gazetteer():
    # reference: src/parser_registry.rs:408-431 — sorted by rank
    reg = Registry()
    reg.add_value(["daft", "punk"], "Daft Punk", 0)
    reg.add_value(["metronomy"], "Metronomy", 2)
    reg.add_value(["pink", "floyd"], "Pink Floyd", 1)
    assert reg.get_entity_values(True) == [
        (["daft", "punk"], "Daft Punk", False, 0),
        (["pink", "floyd"], "Pink Floyd", False, 1),
        (["metronomy"], "Metronomy", False, 2),
    ]


def test_should_inject_values():
    # reference: src/parser_registry.rs:434-465
    reg = Registry()
    reg.add_value(["daft", "punk"], "Daft Punk", 0)
    reg.add_value(["metronomy"], "Metronomy", 2)
    reg = reg.inject_new_values(
        [(["pink", "floyd"], "Pink Floyd"), (["blink"], "Blink")], True, True
    )
    assert reg.get_entity_values(True) == [
        (["pink", "floyd"], "Pink Floyd", True, 0),
        (["blink"], "Blink", True, 1),
        (["daft", "punk"], "Daft Punk", False, 2),
        (["metronomy"], "Metronomy", False, 3),
    ]


def test_should_inject_values_multiple_times():
    # reference: src/parser_registry.rs:468-508
    reg = Registry()
    reg.add_value(["daft", "punk"], "Daft Punk", 0)
    reg.add_value(["metronomy"], "Metronomy", 2)
    reg = reg.inject_new_values(
        [(["pink", "floyd"], "Pink Floyd"), (["blink"], "Blink")], True, True
    )
    reg = reg.inject_new_values(
        [(["michael", "jackson"], "Michael Jackson"), (["blur"], "Blur")], False, False
    )
    assert reg.get_entity_values(True) == [
        (["pink", "floyd"], "Pink Floyd", True, 0),
        (["blink"], "Blink", True, 1),
        (["daft", "punk"], "Daft Punk", False, 2),
        (["metronomy"], "Metronomy", False, 3),
        (["michael", "jackson"], "Michael Jackson", True, 4),
        (["blur"], "Blur", True, 5),
    ]


def test_should_inject_values_from_vanilla():
    # reference: src/parser_registry.rs:511-546
    reg = Registry()
    reg.add_value(["daft", "punk"], "Daft Punk", 0)
    reg.add_value(["metronomy"], "Metronomy", 2)
    reg = reg.inject_new_values(
        [(["pink", "floyd"], "Pink Floyd"), (["blink"], "Blink")], True, True
    )
    reg = reg.inject_new_values(
        [(["michael", "jackson"], "Michael Jackson"), (["blur"], "Blur")], True, True
    )
    assert reg.get_entity_values(True) == [
        (["michael", "jackson"], "Michael Jackson", True, 0),
        (["blur"], "Blur", True, 1),
        (["daft", "punk"], "Daft Punk", False, 2),
        (["metronomy"], "Metronomy", False, 3),
    ]


def test_should_not_inject_empty_values():
    # reference: src/parser_registry.rs:549-570
    reg = Registry()
    reg.add_value(["blink"], "Blink", 0)
    reg = reg.inject_new_values([([], "  "), (["pink"], "Pink")], True, True)
    assert reg.get_entity_values(True) == [
        (["pink"], "Pink", True, 0),
        (["blink"], "Blink", False, 1),
    ]


def test_injection_should_update_stop_words():
    # reference: src/parser_registry.rs:573-612
    reg = Registry()
    reg.add_value(["the", "rolling", "stones"], "The Rolling Stones", 0)
    reg.add_value(["the", "stones"], "The Stones", 1)
    reg.set_stop_words(2, ["hello"])
    assert reg.get_stop_words() == {"the", "stones", "hello"}
    assert reg.get_edge_cases() == {"The Stones"}

    reg = reg.inject_new_values(
        [(["rolling"], "Rolling"), (["rolling", "two"], "Rolling Two")], True, False
    )
    assert reg.get_stop_words() == {"the", "rolling", "hello"}
    assert reg.get_edge_cases() == {"Rolling"}


def test_stop_word_tie_break_is_first_interned():
    # Rust's sort_by_key is stable on -count, so among equal-frequency tokens
    # the earlier-interned (lower id) token wins (reference:
    # src/parser_registry.rs:141-157)
    reg = Registry()
    reg.add_value(["alpha", "beta"], "AB", 0)
    reg.add_value(["alpha", "beta"], "AB2", 1)
    reg.add_value(["gamma"], "G", 2)
    reg.set_stop_words(1, None)
    assert reg.get_stop_words() == {"alpha"}
