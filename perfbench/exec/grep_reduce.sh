#!/bin/sh
# Grep reducer: project the matched line.
cut -f2-
