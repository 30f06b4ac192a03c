import pathlib
import sys

_BENCH = pathlib.Path(__file__).resolve().parents[1]
# the benchmark's modules import each other flat; the engine package
# lives at the checkout root
sys.path[:0] = [str(_BENCH), str(_BENCH.parent)]
