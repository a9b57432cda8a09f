"""Activation-pipeline benchmark: seeded inputs, in-process fake destination
APIs, an independent oracle and a traced replay. See README.md here."""
