"""Every script under scripts/ has a user: it is named in README.md,
under perfbench/ or tests/, or by another script.  A script nothing
names is a harness nothing runs."""

import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(path):
    with open(path, encoding="utf-8", errors="replace") as f:
        return f.read()


def test_every_script_is_named_somewhere():
    scripts = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
    assert scripts
    users = [os.path.join(REPO, "README.md")]
    for d in ("perfbench", "tests"):
        users += [p for p in glob.glob(os.path.join(REPO, d, "**", "*"),
                                       recursive=True)
                  if os.path.isfile(p) and not p.endswith(".pyc")]
    users = [p for p in users if p != os.path.abspath(__file__)]
    texts = {p: _read(p) for p in users + scripts}
    unnamed = []
    for script in scripts:
        name = os.path.splitext(os.path.basename(script))[0]
        if not any(name in text for p, text in texts.items()
                   if p != script):
            unnamed.append(os.path.basename(script))
    assert not unnamed, f"scripts nothing names: {unnamed}"


def test_plan_lint_out_takes_a_value():
    """``--out PATH`` takes a value: the path after it is not read as the
    sf_dir.  Only the argument parsing runs, no query."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "plan_lint", os.path.join(REPO, "scripts", "plan_lint.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    default = mod.parse_args([]).sf_dir
    args = mod.parse_args(["--out", "x.json"])
    assert (args.sf_dir, args.out) == (default, "x.json")
    args = mod.parse_args(["sf_dir", "--out", "x.json"])
    assert (args.sf_dir, args.out) == ("sf_dir", "x.json")
