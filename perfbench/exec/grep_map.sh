#!/bin/sh
# Grep mapper: strip each line, drop blank ones, keep those containing
# $1 case-insensitively, emit "1<TAB>line".
sed -e 's/^[[:space:]]*//' -e 's/[[:space:]]*$//' | grep -v '^$' |
  grep -i -F -e "$1" | awk '{print "1\t"$0}'
