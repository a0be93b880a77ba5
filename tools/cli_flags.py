"""Dump every ``vcfdb`` subcommand's argparse actions as sorted JSON,
so two checkouts' command-line surfaces can be diffed:

    python tools/cli_flags.py > before.json   # in one checkout
    python tools/cli_flags.py > after.json    # in the other
    diff before.json after.json

``cli.main`` builds its parser inline, so this runs ``main`` with
``parse_args`` replaced by a hook that captures the parser and stops
before any Spark session starts.  Per action it records the option
strings, dest, default, type, choices, required flag, help, nargs,
const and action class.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vcfdbr_spark import cli  # noqa: E402


class _Captured(Exception):
    def __init__(self, parser: argparse.ArgumentParser):
        self.parser = parser


def _capture(parser, *args, **kwargs):
    raise _Captured(parser)


def _action(a: argparse.Action) -> dict:
    return {
        "option_strings": a.option_strings,
        "dest": a.dest,
        "default": repr(a.default),
        "type": getattr(a.type, "__name__", repr(a.type)),
        "choices": None if a.choices is None else [repr(c) for c in a.choices],
        "required": a.required,
        "help": a.help,
        "nargs": repr(a.nargs),
        "const": repr(a.const),
        "action": type(a).__name__,
    }


def cli_flags() -> dict:
    """``{subcommand: [action, ...]}`` for every ``vcfdb`` subcommand."""
    orig = argparse.ArgumentParser.parse_args
    argparse.ArgumentParser.parse_args = _capture
    try:
        cli.main([])
    except _Captured as c:
        parser = c.parser
    else:
        raise RuntimeError("cli.main returned without parsing arguments")
    finally:
        argparse.ArgumentParser.parse_args = orig
    subs = next(
        a for a in parser._actions
        if isinstance(a, argparse._SubParsersAction)
    )
    return {
        name: sorted(
            (_action(a) for a in sp._actions),
            key=lambda d: (d["option_strings"], d["dest"]),
        )
        for name, sp in subs.choices.items()
    }


if __name__ == "__main__":
    print(json.dumps(cli_flags(), indent=1, sort_keys=True))
