"""The pure parts of tools_refactorproof.py: plan normalization, the
code-size counter and entry selection (no Spark, no git)."""

from __future__ import annotations

from tools_refactorproof import code_counts, normalize_plan, select_entries


def test_normalize_plan_drops_session_counters_but_keeps_operators():
    a = (
        "Project [q_id#12L, (lambda x_9 * lambda y_10) AS d#3]\n"
        "+- InMemoryRelation [q_id#12L], [plan_id=7]"
    )
    b = (
        "Project [q_id#48L, (lambda x_31 * lambda y_32) AS d#77]\n"
        "+- InMemoryRelation [q_id#48L], [plan_id=112]"
    )
    assert normalize_plan(a) == normalize_plan(b)
    moved = b.replace("InMemoryRelation", "Relation")
    assert normalize_plan(a) != normalize_plan(moved)
    # a name that merely ends in x_<digits> is not a lambda variable
    assert normalize_plan("max_1") == "max_1"


def test_code_counts_skip_blanks_comments_and_docstrings():
    src = '''"""Module docstring,
on two lines."""

# a comment


def f(x):
    """Function docstring."""
    return x + 1  # trailing comment
'''
    lines, tokens = code_counts(src)
    # docstrings are lines of code but not tokens; blanks and comments are neither
    assert lines == 5
    bare_lines, bare_tokens = code_counts("def f(x):\n    return x + 1\n")
    assert (bare_lines, tokens) == (2, bare_tokens)


def test_select_entries_returns_moved_names_and_flags_infra_only_moves():
    parent = {"a": "1", "b": "2", "c": "3", "__infra__": "i", "__scheme__": 3}
    change = dict(parent, b="9", c="8", d="new")
    assert select_entries(parent, change) == (["b", "c"], False)
    infra_only = dict(parent, __infra__="j")
    assert select_entries(parent, infra_only) == ([], True)
