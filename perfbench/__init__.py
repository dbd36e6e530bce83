"""Repository benchmark for sketchlib (see README.md)."""
