"""The DuckDB oracle of the command-line mapping, and the output check."""

import os

from perfbench import gen, oracle


def _rows():
    import datetime as dt

    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    return [
        ("conv_00000", 0, "user", "t", None, ts, "René Müller"),
        ("conv_00001", 3, "tool", "t", "search", ts, "V. Williams"),
    ]


def test_expected_lines_pin_the_mapping(tmp_path):
    gen.write_cli_sources(gen.Corpus(_rows(), {}), str(tmp_path))
    lines = oracle.expected_lines(str(tmp_path))
    t0 = "<http://example.com/turn/conv_00000-0>"
    g0 = "<http://example.com/graph/user>"
    assert f'{t0} <http://example.com/ontology/tool> "" {g0} .' in lines
    assert (f"{t0} <http://example.com/ontology/mentions> "
            f"<http://example.com/entity/Ren%C3%A9%20M%C3%BCller> {g0} .") in lines
    assert (f"{t0} <http://example.com/ontology/inConversation> "
            f"<http://example.com/conv/conv_00000> {g0} .") in lines
    assert ("<http://example.com/conv/conv_00001> "
            '<http://example.com/ontology/title> "Conversation 00001" .') in lines
    # 7 statements per turn, 2 per conversation
    assert len(lines) == 2 * 7 + 2 * 2
    assert lines == sorted(lines)


def test_corrupted_output_line_trips_the_check(tmp_path):
    src = tmp_path / "cli"
    gen.write_cli_sources(gen.default_corpus(2, n_turns=300), str(src))
    lines = oracle.expected_lines(str(src))
    expected = (len(lines), oracle.lines_digest(lines))

    out = tmp_path / "out.nq"
    # engine output order is arbitrary: the check sorts
    out.write_text("".join(line + "\n" for line in reversed(lines)), encoding="utf-8")
    assert oracle.nquads_digest(str(out)) == expected

    corrupted = list(lines)
    corrupted[len(corrupted) // 2] = corrupted[len(corrupted) // 2].replace(
        "conv_", "conv-", 1)
    out.write_text("".join(line + "\n" for line in corrupted), encoding="utf-8")
    assert oracle.nquads_digest(str(out)) != expected

    out.write_text("".join(line + "\n" for line in lines[:-1]), encoding="utf-8")
    assert oracle.nquads_digest(str(out)) != expected
    assert os.path.getsize(out) > 0
