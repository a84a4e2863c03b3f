SELECT l.EventId, l.State, r.State AS "$right.State", r.Region, r.Coastal, r.Population
FROM (SELECT EventId, State FROM StormEvents) l
JOIN States r ON l.State = r.State
ORDER BY l.EventId ASC NULLS FIRST
