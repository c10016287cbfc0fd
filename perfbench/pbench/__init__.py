"""Support code of the perfbench harness (see ../README.md)."""
